package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants of operators whose full results are checked by the
  * driver's DuckDB oracle — plus the hash-dependent ops that have NO
  * oracle (minhash/simhash/embedding-LSH), which are validated here
  * against ground truth computable on sf0.001.
  */
class OpsSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  /** Runs a terasort helper and collects its result, then checks the
    * one-shuffle shape over every query the call fired (checkpoints,
    * bucket sums, the output pass): exactly one range exchange, and the
    * plan holding it re-shuffles on no scratch (`__`) column — the
    * per-bucket window rides the range exchange.
    */
  private def terasortShape(run: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.ExecutedPlans.Adaptive
    val (out, plans) = graft.ExecutedPlans.of(spark) {
      val df = run
      df.collect()
      df
    }
    def rangeExchanges(p: SparkPlan) = Adaptive.collect(p) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }
    val sorts = plans.filter(rangeExchanges(_).nonEmpty)
    assert(sorts.map(rangeExchanges(_).size).sum == 1,
      s"expected one range exchange over ${plans.size} queries:\n${sorts.mkString("\n")}")
    assert(!sorts.head.toString.contains("hashpartitioning(__"),
      s"the terasort pass re-shuffles on a scratch column:\n${sorts.head}")
    out
  }

  test("q_join_asof matches a driver-side reference on sf0.001") {
    import spark.implicits._
    val events = Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type", "ts_ns")
      .as[(Long, Long, String, Long)].collect()
    val purchases = events.filter(_._3 == "purchase")
      .groupBy(_._2).view.mapValues(_.map(_._4).sorted).toMap
    val expected: Map[Long, Option[Long]] = events.map { case (id, uid, _, ts) =>
      val last = purchases.getOrElse(uid, Array.empty[Long]).takeWhile(_ <= ts).lastOption
      // engine truncates to µs then scales back (DuckDB TIMESTAMP parity)
      id -> last.map(ns => ns / 1000 * 1000)
    }.toMap
    val got: Map[Long, Option[Long]] = Relational.q_join_asof(spark, sf)
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(got.size == expected.size)
    val diffs = expected.collect { case (k, v) if got(k) != v => (k, v, got(k)) }
    assert(diffs.isEmpty, s"first diffs: ${diffs.take(5).toSeq}")
  }

  test("minhash LSH: exact dups always collide (jaccard=1); near-dups found; disjoint texts absent") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today " * 3
    val nearDup = base.replace("lazy", "sleepy") // one word of ~40 changed
    val unrelated = "completely different words about spark shuffle partitions and catalyst optimizer rules everywhere"
    val docs = Seq(
      (1L, base), (2L, base),        // exact duplicate pair
      (3L, nearDup),                 // near duplicate of 1 and 2
      (4L, unrelated)                // unrelated
    ).toDF("doc_id", "text")
    val pairs = Llm.minhashPairs(docs, threshold = 0.5)
      .select("id1", "id2", "jaccard")
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((1L, 2L)) == 1.0) // identical shingle sets
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // near-dup caught
    assert(!pairs.keys.exists { case (a, b) => a == 4L || b == 4L }) // unrelated absent
  }

  test("cdc chunks: reconstruction, shift-robust re-alignment, edge cases, gate canary") {
    import graft.functions.TextKernels
    import org.apache.spark.unsafe.types.UTF8String
    def chunksOf(t: String): Seq[String] = {
      val a = TextKernels.cdcChunks(UTF8String.fromString(t))
      (0 until a.numElements()).map(i => a.getUTF8String(i).toString)
    }
    // chunks re-join to the original text (single-space join property)
    val text = (1 to 400).map(i => s"w${i % 97}").mkString(" ")
    val cs = chunksOf(text)
    assert(cs.mkString(" ") == text)
    assert(cs.size > 1, "400 tokens at mean-16 chunking must split")
    // shift robustness: inserting one word early perturbs only the chunk
    // containing the edit — the chunk SUFFIX after it is identical, so a
    // set-difference census sees O(1) change, not O(doc) (the fixed-frame
    // failure mode)
    val edited = text.split(' ').patch(3, Seq("INSERTED"), 0).mkString(" ")
    val es = chunksOf(edited)
    assert(es.drop(1) == cs.drop(1),
      "all chunks after the edited first chunk must re-align bit-identically")
    assert(es.head != cs.head)
    // edge semantics match the oracle's javaSplit contract
    assert(chunksOf("") == Seq(""))
    assert(TextKernels.cdcChunks(UTF8String.fromString("   ")).numElements() == 0)
    // null ≡ "" (the oracle coalesces NULL text to ''): one empty chunk
    assert(TextKernels.cdcChunks(null).getUTF8String(0).toString == "")
    // gate: the planted canary (doc −1 = smallest doc's copy) makes every
    // canary chunk a cross-doc duplicate, so the gate is never vacuous
    val gate = Llm.q_dedup_cdc(spark, sf)
    val canaryRow = gate.filter(col("doc_id") === -1L).head()
    assert(canaryRow.getLong(1) > 0 && canaryRow.getLong(1) == canaryRow.getLong(2),
      "every canary chunk must be flagged duplicate")
    assert(gate.filter(col("doc_id") >= 0).count() > 0)
  }

  test("incremental dedup: corpus-hit and within-batch dups drop; minhash index flags corpus near-dups") {
    import spark.implicits._
    // exact-key flavor: key in corpus / key duplicated inside the batch /
    // genuinely new key
    val corpusIdx = Seq("k1", "k2").toDF("k")
    val batch = Seq((10L, "k1"), (11L, "k3"), (12L, "k3"), (13L, "k4")).toDF("id", "k")
    val keep = Llm.incrementalDedup(batch, "id", "k", corpusIdx)
      .select("id", "keep").as[(Long, Boolean)].collect().toMap
    assert(keep == Map(10L -> false, 11L -> true, 12L -> false, 13L -> true))
    // LSH flavor: the near-dup/unrelated strings are the ones the
    // minhashPairs test proves collide / don't collide — deterministic
    val base = "the quick brown fox jumps over the lazy dog again and again today " * 3
    val nearDup = base.replace("lazy", "sleepy")
    val unrelated = "completely different words about spark shuffle partitions and catalyst optimizer rules everywhere"
    val idx = Llm.minhashIndex(Seq((1L, base)).toDF("doc_id", "text"))
    val flags = Llm.incrementalMinhashFlags(
      Seq((10L, base), (11L, nearDup), (12L, unrelated)).toDF("doc_id", "text"), idx)
      .select("doc_id", "near_corpus").as[(Long, Boolean)].collect().toMap
    assert(flags(10L) && flags(11L), "exact copy and proven near-dup must flag")
    assert(!flags(12L), "unrelated text must not flag")
  }

  test("minhash output is well-formed: id1 < id2, verified jaccard in [0.5, 1], est in (0, 1]") {
    val bad = Llm.q_dedup_minhash(spark, sf)
      .filter(col("id1") >= col("id2") ||
        col("jaccard") < 0.5 || col("jaccard") > 1.0 ||
        col("est_jaccard") <= 0.0 || col("est_jaccard") > 1.0).count()
    assert(bad == 0)
  }

  test("keep-best dedup: same clusters as min-id rule; survivor is the longest member") {
    val minId = Llm.q_dedup_clusters(spark, sf)
      .select("doc_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val best = Llm.q_dedup_keep_best(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    // identical cluster assignment (the keep rule changes, not the graph)
    assert(best.map(b => b._1 -> b._2).toMap == minId)
    // exactly one keeper per cluster, and it is the (len desc, id asc) max
    best.groupBy(_._2).foreach { case (c, members) =>
      val keepers = members.filter(_._4)
      assert(keepers.length == 1, s"cluster $c must keep exactly one")
      val expected = members.minBy(m => (-m._3, m._1))
      assert(keepers.head._1 == expected._1,
        s"cluster $c kept ${keepers.head._1}, expected longest ${expected._1}")
    }
  }

  test("sorted-neighborhood blocking: canary pair found; pairs well-formed; O(n·w) bound") {
    val gate = Llm.q_dedup_snm(spark, sf)
    val rows = gate.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // canary doc −1 is a byte-identical copy of the smallest doc: same
    // normalized key, adjacent by tie-break → must pair at jaccard 1.0
    val canary = rows.filter(_._1 == -1L)
    assert(canary.nonEmpty, "canary pair missing")
    assert(canary.exists(_._3 == 1.0))
    rows.foreach { case (a, b, j) =>
      assert(a < b && j >= 0.5 && j <= 1.0, s"bad pair ($a,$b,$j)")
    }
    // candidate volume is bounded by n·(w−1), never n²
    val n = Tables.documents(spark, sf).count() + 1
    assert(rows.length <= 2 * n)
  }

  test("simhash: identical → equal sigs; near-dup hamming < unrelated hamming") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today " * 3
    val docs = Seq(
      (1L, base), (2L, base),
      (3L, base.replace("lazy", "sleepy")),
      (4L, "completely different words about spark shuffle partitions and catalyst rules")
    ).toDF("doc_id", "text")
    val sig = Llm.simhashSigs(docs).as[(Long, Long)].collect().toMap
    assert(sig(1L) == sig(2L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sig(1L), sig(3L)) < hamming(sig(1L), sig(4L)))
  }

  test("q_dedup_clusters: every candidate pair co-clusters; keep = cluster minimum") {
    import spark.implicits._
    val clusters = Llm.q_dedup_clusters(spark, sf)
      .select("doc_id", "cluster", "keep").as[(Long, Long, Boolean)].collect()
    val label = clusters.map(c => c._1 -> c._2).toMap
    // every minhash candidate pair must share a cluster
    val pairs = Llm.q_dedup_minhash(spark, sf).select("id1", "id2").as[(Long, Long)].collect()
    assert(pairs.forall { case (a, b) => label(a) == label(b) })
    // keep is exactly the minimum doc_id of each cluster
    clusters.groupBy(_._2).foreach { case (cl, members) =>
      assert(cl == members.map(_._1).min)
      assert(members.filter(_._3).map(_._1).toSeq == Seq(cl))
    }
  }

  test("q_sim_topk: 5 neighbors per query, cos in [-1,1], descending") {
    import spark.implicits._
    val rows = Llm.q_sim_topk(spark, sf)
      .select("qid", "rn", "cos").as[(Long, Long, Double)].collect()
    val byQ = rows.groupBy(_._1)
    assert(byQ.size == 20)
    byQ.values.foreach { g =>
      assert(g.length == 5)
      assert(g.forall { case (_, _, c) => c >= -1.0001 && c <= 1.0001 })
      val sorted = g.sortBy(_._2).map(_._3)
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a >= b })
    }
  }

  test("IVF ANN: well-formed output and usable recall vs exact top-5") {
    import spark.implicits._
    val exact = Llm.q_sim_topk(spark, sf).select("qid", "cid")
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val approx = Llm.q_sim_ivf(spark, sf).select("qid", "cid")
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(approx.nonEmpty && approx.values.forall(_.size <= 5))
    val recalls = exact.keys.toSeq.map { q =>
      val hits = approx.getOrElse(q, Set.empty).intersect(exact(q)).size
      hits.toDouble / exact(q).size
    }
    val avgRecall = recalls.sum / recalls.size
    info(f"IVF recall@5 = $avgRecall%.3f (nlist=16, nprobe=8 default)")
    // kMeans init is a deterministic xxhash64 stride (Scale.kMeans) and
    // the fixture is fixed, so the measured recall is a constant — the
    // floor asserts the nProbe=8 default operating point (the r11 knee
    // decision), not a statistical bound
    assert(avgRecall >= 0.75, f"IVF recall too low at the nProbe=8 default: $avgRecall%.3f")
  }

  test("IVF ANN at-scale sizing: nList=√n / nProbe=nList/8 holds recall ≥ 0.9 on CLUSTERED geometry") {
    // the round-12 operating point is defended against the clustered
    // ladder (IVF_RECALL_r12.json: planted Gaussian mixture — real
    // embedding geometry, where the uniform fixture's
    // recall-∝-probed-fraction artifact disappears). This gate rebuilds
    // the 5k fixture deterministically and pins the recommended sizing:
    // ceil(√5000)=71 cells, probe 71/8≈8 → measured 0.98 recall@5
    // probing ~11% of cells (the probed fraction FALLS with n: 1.8% at
    // 50k where recall@4/224 already measures 1.0).
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ivf_clustered_gate_").toString
    graft.GenIvfFixture.build(spark, 5000L, noiseScale = 1.4)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val nList = math.ceil(math.sqrt(5000.0)).toInt
    val exact = Llm.q_sim_topk(spark, dir).select("qid", "cid")
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val approx = Llm.q_sim_ivf(spark, dir, 100.0, nList / 8, nList).select("qid", "cid")
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.keys.toSeq.map { q =>
      approx.getOrElse(q, Set.empty).intersect(exact(q)).size.toDouble / exact(q).size
    }
    val avgRecall = recalls.sum / recalls.size
    info(f"clustered IVF recall@5 = $avgRecall%.3f (nList=$nList, nProbe=${nList / 8})")
    assert(avgRecall >= 0.9,
      f"at-scale IVF sizing lost its clustered-recall floor: $avgRecall%.3f")
  }

  test("embedding LSH candidates: exact duplicates of a vector always collide") {
    import spark.implicits._
    // the planted canary (-1 = copy of the smallest vec_id) guarantees at
    // least one pair flows through signature → bucket → cosine, so the
    // invariants below assert over real output, never an empty set
    val out = Llm.q_dedup_embed(spark, sf)
      .select("id1", "id2", "cos").as[(Long, Long, Double)].collect()
    assert(out.nonEmpty, "q_dedup_embed must emit at least the canary pair")
    assert(out.forall { case (a, b, c) => a < b && c >= 0.95 && c <= 1.0000001 })
    assert(out.exists { case (a, _, c) => a == -1L && c >= 0.999999 },
      "canary exact-duplicate pair (cos = 1.0) missing")
  }

  test("minhash LSH: degenerate hot bucket is capped, job completes with bounded candidates") {
    import spark.implicits._
    // 1k identical docs — every band signature collides, so without the
    // bucket cap this bucket alone emits ~500k pairs from ONE collect_list
    // buffer; with the cap it is dropped and the genuine small-bucket
    // near-dup pair still surfaces
    val boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor " * 2
    val real = "the quick brown fox jumps over the lazy dog again and again today " * 3
    val docs = ((1L to 1000L).map(i => (i, boiler)) ++
      Seq((2001L, real), (2002L, real.replace("lazy", "sleepy")))).toDF("doc_id", "text")
    val pairs = Llm.minhashPairs(docs, threshold = 0.5)
      .select("id1", "id2").as[(Long, Long)].collect()
    assert(pairs.toSet == Set((2001L, 2002L)),
      s"expected only the real near-dup pair, got ${pairs.length} pairs")
    // the observability companion reports what the cap discarded
    val stats = Llm.minhashBucketStats(docs)
      .select("dropped_buckets", "max_bucket").as[(Long, Long)].head()
    assert(stats._1 >= 1 && stats._2 >= 1000)
  }

  test("setSimJoin token cap: boilerplate flood stays bounded, genuine pair survives") {
    import spark.implicits._
    // 1k identical docs: every prefix token is shared by all of them, so
    // the uncapped exact join is inherently ~500k verified pairs; the
    // opt-in cap drops the flooded tokens while the genuine near-dup
    // pair (disjoint vocabulary, so its rare prefix tokens are NOT
    // flooded) still meets
    val boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit " * 2
    val real = "the quick brown fox jumps over that lazy dog again today"
    val docs = ((1L to 1000L).map(i => (i, boiler)) ++
      Seq((2001L, real), (2002L, real.replace("dog", "dog yes")))).toDF("doc_id", "text")
    val pairs = Llm.setSimJoin(docs, "doc_id", "text", t = 0.8, maxToken = 256)
      .select("id1", "id2").as[(Long, Long)].collect()
    assert(pairs.toSet == Set((2001L, 2002L)),
      s"expected only the genuine pair, got ${pairs.length} pairs")
  }

  test("q_quality_compress: repetitive << prose < shuffled noise; deterministic; empty/whitespace conventions") {
    val gate = Llm.q_quality_compress(spark, sf)
    val ratios = gate.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // corpus prose lands in a sane deflate band
    // tiny fixture docs can exceed 1.0: the deflate header dominates
    // below ~60 raw bytes (sf0.01 max observed 1018518)
    assert(ratios.values.forall(v => v > 0 && v < 1500000),
      "deflate_ppm must be positive and bounded by small-doc header overhead")
    // determinism across full re-runs (fresh Deflater per partition)
    val again = Llm.q_quality_compress(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(again == ratios, "deflate ratios must be run-deterministic")
    // the signal's ordering property on crafted docs
    import spark.implicits._
    val word = "tok"
    val repetitive = Seq.fill(400)(word).mkString(" ")
    // long natural prose (several fixture docs) vs full-printable-range
    // noise: natural text deflates well below random bytes
    val prose = graft.ops.Tables.documents(spark, sf).limit(10)
      .collect().map(_.getString(1)).mkString(" ")
    val rng = new scala.util.Random(42)
    val noise = Array.fill(2000)(rng.nextPrintableChar()).mkString
    val crafted = Seq((1L, repetitive), (2L, prose), (3L, noise), (4L, ""))
      .toDF("doc_id", "text")
    val probeDir = java.nio.file.Files.createTempDirectory("graft_compress_").toString
    crafted.write.mode("overwrite").parquet(s"$probeDir/documents.parquet")
    val probe = Llm.q_quality_compress(spark, probeDir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(probe(1L) < probe(2L) && probe(2L) < probe(3L),
      s"repetitive(${probe(1L)}) < prose(${probe(2L)}) < noise(${probe(3L)}) must hold")
    assert(probe(4L) == 0L, "empty doc reports ratio 0 by convention")
  }

  test("graft_nfc: canonical-equivalence collapse; ASCII fast path is identity; codegen plan") {
    import spark.implicits._
    // the planted canary pair: decomposed and precomposed forms of the
    // same string must produce one nfc_key
    val keys = Llm.q_text_nfc(spark, sf).filter(col("doc_id").isin(-1L, -2L))
      .select("doc_id", "is_nfc", "nfc_key").collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getString(2))).toMap
    assert(!keys(-1L)._1, "the decomposed canary is not NFC")
    assert(keys(-2L)._1, "the precomposed canary is already NFC")
    assert(keys(-1L)._2 == keys(-2L)._2,
      "decomposed and precomposed forms must share the NFC dedup key")
    // kernel level: ASCII identity (same UTF8String instance semantics)
    import org.apache.spark.unsafe.types.UTF8String
    val ascii = UTF8String.fromString("plain ascii text")
    assert(graft.functions.NfcKernel.nfc(ascii) eq ascii,
      "ASCII fast path must return the input without normalizer work")
    assert(graft.functions.NfcKernel.nfc(null) == null)
    // plan: no UDF, expression inside the codegen span
    val df = graft.ops.Tables.documents(spark, sf)
      .select(graft.functions.Vec.nfc(col("text")).as("n"))
      .filter(length(col("n")) > 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("scalaudf") && plan.contains("graft_nfc"),
      s"graft_nfc fell out of codegen:\n$plan")
  }

  test("multimodal fakeDecode: 16-bin normalized histogram") {
    val h = Multimodal.fakeDecode("hello world".getBytes("UTF-8"))
    assert(h.length == 16)
    assert(math.abs(h.sum - 1.0) < 1e-9)
    assert(h.forall(_ >= 0.0))
  }

  /** Deterministic in-memory PNG fixture: a horizontal gray ramp
    * (column x → gray level x) written through the JVM's own encoder.
    * No on-disk fixture needed — `javax.imageio` round-trips losslessly
    * for PNG.
    */
  private def rampPng(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val g = (x * 255) / math.max(1, w - 1)
      img.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("multimodal REAL decode: planted PNG goes through javax.imageio, text and corrupt media fall back") {
    // 256-wide gray ramp: every gray level 0..255 appears once per row,
    // so the 16-bin luminance histogram is uniform up to the double
    // rounding of 0.299g+0.587g+0.114g at bin boundaries (±2/256 a bin)
    val png = rampPng(256, 4)
    val (feats, resized, dec) = Multimodal.decodeFeatures(png)
    assert(dec == "imageio-v1", "a real PNG must take the imageio path")
    assert(feats.length == 16 && resized.length == 8)
    assert(math.abs(feats.sum - 1.0) < 1e-9)
    feats.foreach(v => assert(math.abs(v - 1.0 / 16) <= 2.0 / 256 + 1e-9,
      s"gray-ramp luminance histogram must be near-uniform, got ${feats.toSeq}"))
    // text payloads never sniff as media → stub path (keeps the
    // q_mm_features oracle valid on the documents corpus)
    assert(Multimodal.decodeFeatures("plain text".getBytes("UTF-8"))._3 == "fake-decoder-v1")
    // corrupt media (magic bytes, truncated body) falls back loudly-not-fatally
    assert(Multimodal.decodeFeatures(png.take(12))._3 == "fake-decoder-v1")
    // phash on real pixels: identical images agree; a ramp vs its
    // reverse differ in EVERY dHash comparison → maximal distance
    def rev(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val g = ((w - 1 - x) * 255) / math.max(1, w - 1)
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    assert(Multimodal.phash64(png) == Multimodal.phash64(rampPng(256, 4).clone))
    assert(java.lang.Long.bitCount(
      Multimodal.phash64(png) ^ Multimodal.phash64(rev(256, 4))) == 64)
    // the partition-parallel seam: the same function distributed
    import spark.implicits._
    val ds = Seq((1L, png), (2L, "not an image".getBytes("UTF-8"))).toDS()
    val out = ds.mapPartitions(_.map { case (id, p) =>
      (id, Multimodal.decodeFeatures(p)._3) }).collect().toMap
    assert(out == Map(1L -> "imageio-v1", 2L -> "fake-decoder-v1"))
  }

  test("q_mm_features: schema, feature shape, and pooled resize") {
    val gate = Multimodal.q_mm_features(spark, sf)
    assert(gate.columns.toSeq == Seq("doc_id", "features_csv", "resized_csv", "n_bytes", "decoder"))
    assert(gate.schema.fields.forall(f => !f.dataType.typeName.contains("array")),
      "gate query must expose only scalar columns (driver pandas hash)")
    val df = Multimodal.features(spark, sf)
    assert(df.columns.toSeq == Seq("doc_id", "features", "features_resized", "n_bytes", "decoder"))
    val r = df.head()
    val feats = r.getSeq[Double](1)
    val resized = r.getSeq[Double](2)
    assert(feats.size == 16 && resized.size == 8)
    // pooling preserves mass: both normalize to the same total / 2
    assert(math.abs(resized.sum - feats.sum / 2) < 1e-9)
    assert(r.getLong(3) > 0)
    // the CSV rendering is integer-exact fixed-point — never scientific
    // notation, never a float-tie ambiguity (sf10 sweep regression: Spark
    // `8.94E-4` vs DuckDB `0.000894`, and the 41/640 six-dp HALF_UP tie)
    val cellRe = """\d+\.\d{6}""".r
    gate.select("features_csv", "resized_csv").limit(50).collect().foreach { row =>
      Seq(row.getString(0), row.getString(1)).foreach { csvStr =>
        csvStr.split(",").foreach(c => assert(cellRe.matches(c), s"bad cell format: $c"))
      }
    }
    // tie case pinned: count 41 over 640 bytes = 0.0640625 → half-up 0.064063
    val tiePayload = Array.tabulate[Byte](640)(i => if (i < 41) 1 else 0)
    val h = Multimodal.fakeDecode(tiePayload)
    val c41 = math.round(h(1) * 640)
    assert(c41 == 41L)
    assert((2 * 41L * 1000000 + 640) / (2 * 640) == 64063L)
  }

  test("winnowing: identical docs share all fingerprints; long shared substrings guarantee overlap") {
    import spark.implicits._
    val shared = (1 to 12).map(i => s"common$i").mkString(" ") // 12 words ≥ w+k-1=8
    val docs = Seq(
      (1L, s"alpha beta gamma $shared delta epsilon"),
      (2L, s"totally different prefix words here $shared and another tail"),
      (3L, "no overlap at all with anything else whatsoever in this text")
    ).toDF("doc_id", "text")
    val fp = Llm.winnowFingerprints(docs)
      .select("doc_id", "fingerprints").as[(Long, Seq[Long])].collect().toMap
    assert(fp(1L).toSet.intersect(fp(2L).toSet).nonEmpty,
      "≥ w+k-1-word shared substring must share a fingerprint")
    assert(fp(3L).toSet.intersect(fp(1L).toSet).isEmpty)
    // determinism: same text → same fingerprints
    val again = Llm.winnowFingerprints(docs)
      .select("doc_id", "fingerprints").as[(Long, Seq[Long])].collect().toMap
    assert(again == fp)
  }

  test("hashSample: deterministic, key-consistent, approximately sized") {
    val orders = Tables.orders(spark, sf)
    val s10 = Scale.hashSample(orders, Seq(col("o_custkey")), 10.0)
    val s10b = Scale.hashSample(orders, Seq(col("o_custkey")), 10.0)
    assert(s10.count() == s10b.count()) // deterministic
    val frac = s10.count().toDouble / orders.count()
    assert(frac > 0.03 && frac < 0.25, s"10% sample came out at $frac")
    // key-consistent: a sampled customer keeps ALL their orders
    val sampledKeys = s10.select("o_custkey").distinct()
    val fullForKeys = orders.join(sampledKeys, "o_custkey")
    assert(fullForKeys.count() == s10.count())
  }

  test("q_mm_frames: frames tile the payload exactly") {
    import spark.implicits._
    val frames = Multimodal.q_mm_frames(spark, sf)
      .select("doc_id", "frame_idx", "frame_bytes").as[(Long, Long, Long)].collect()
    val lens = Tables.documents(spark, sf)
      .select(col("doc_id"), octet_length(col("text").cast("binary")).cast("long"))
      .as[(Long, Long)].collect().toMap
    frames.groupBy(_._1).foreach { case (id, fs) =>
      val sorted = fs.sortBy(_._2)
      assert(sorted.map(_._3).sum == lens(id), s"frames of doc $id must tile the payload")
      assert(sorted.map(_._2).toSeq == (0L until fs.length).toSeq)
      assert(sorted.dropRight(1).forall(_._3 == 64))
    }
  }

  test("csv and json round-trips preserve schema and values") {
    val csv = Sources.q_source_csv(spark, sf)
    val nat = Tables.nation(spark, sf)
    assert(csv.schema == Sources.nationSchema)
    assert(csv.except(nat).isEmpty && nat.except(csv).isEmpty)

    val json = Sources.q_source_json(spark, sf)
    val cust = Tables.customer(spark, sf).select(Sources.customerSchema.fieldNames.map(col): _*)
    assert(json.except(cust).isEmpty && cust.except(json).isEmpty)
  }

  test("malformed CSV rows: PERMISSIVE flags them, DROPMALFORMED drops them, data survives") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_dirty_csv_")
    Files.write(dir.resolve("part.csv"), java.util.Arrays.asList(
      "1,alpha,10.5", "2,beta,not_a_number", "3,gamma,30.25", "oops", "5,delta,50.0"))
    val schema = "id LONG, name STRING, score DOUBLE"
    val permissive = spark.read.schema(schema + ", _corrupt_record STRING")
      .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(dir.toString)
    // cache first: Spark forbids filtering _corrupt_record alone on the lazy scan
    permissive.cache().count()
    val bad = permissive.filter(col("_corrupt_record").isNotNull).count()
    val good = permissive.filter(col("_corrupt_record").isNull).count()
    assert(bad == 2 && good == 3, s"expected 2 bad / 3 good, got $bad / $good")
    permissive.unpersist()
    val dropped = spark.read.schema(schema).option("mode", "DROPMALFORMED").csv(dir.toString)
    // count() alone prunes to zero columns and skips parsing (nothing
    // gets dropped) — materialize full rows to engage malformed handling
    assert(dropped.collect().length == 3)
    assert(dropped.agg(sum(col("score"))).head().getDouble(0) == 10.5 + 30.25 + 50.0)
  }

  test("avro round-trip preserves schema and values (Hadoop container-file path)") {
    val avro = Sources.q_source_avro(spark, sf)
    val nat = Tables.nation(spark, sf)
    assert(avro.schema == Sources.nationSchema)
    assert(avro.except(nat).isEmpty && nat.except(avro).isEmpty)
    // the files on disk must be real Avro containers: magic bytes "Obj\1"
    val out = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      "graft_sources", s"avro_${math.abs(sf.hashCode).toHexString}")
    val part = java.nio.file.Files.list(out).toArray.map(_.toString)
      .filter(p => p.endsWith(".avro") && !p.split('/').last.startsWith(".")).head
    val magic = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(part)).take(4)
    assert(magic.sameElements(Array[Byte]('O', 'b', 'j', 1)),
      s"expected Avro container magic in $part, got ${magic.toSeq}")
  }

  test("jdbc round-trip: predicates push into the database, read is stride-partitioned") {
    val jdbc = Sources.q_source_jdbc(spark, sf)
    val expected = Tables.customer(spark, sf)
      .filter(col("c_acctbal") > 0 && col("c_mktsegment") === "BUILDING")
    assert(jdbc.except(expected).isEmpty && expected.except(jdbc).isEmpty)
    // formatted mode: the one-line tree truncates long PushedFilters lists
    val plan = jdbc.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // both predicates must reach Derby as SQL (CLOB default would break
    // the string comparison — createTableColumnTypes makes it VARCHAR)
    assert(plan.contains("EqualTo(c_mktsegment,BUILDING)")
        && plan.contains("GreaterThan(c_acctbal,0.0)"),
      s"expected JDBC pushdown in:\n$plan")
    assert(plan.contains("numPartitions=4"),
      s"expected a 4-stripe parallel JDBC read in:\n$plan")
  }

  test("q_last_n: batch ring is the newest 3 per user in event-time order") {
    import spark.implicits._
    val got = Relational.q_last_n(spark, sf)
      .as[(Long, String)].collect()
      .map { case (u, csv) => u -> csv.split(',').map(_.toLong).toSeq }.toMap
    val ref = Tables.events(spark, sf)
      .select("user_id", "event_id", "ts_ns")
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(
        _.sortBy(e => (e._3, e._2)).takeRight(3).map(_._2).toSeq).toMap
    assert(got == ref)
  }

  test("q_rfm: every customer in exactly one segment, quintiles balanced within 1") {
    import spark.implicits._
    val seg = Relational.q_rfm(spark, sf).collect()
    val nCust = Tables.orders(spark, sf).select("o_custkey").distinct().count()
    assert(seg.map(_.getLong(3)).sum == nCust, "segments must partition customers")
    assert(seg.length <= 125)
    for (dim <- 0 to 2) {
      val byQ = seg.groupBy(_.getLong(dim)).view.mapValues(_.map(_.getLong(3)).sum)
      assert(byQ.values.max - byQ.values.min <= 1,
        s"ntile quintiles of dim $dim must balance within 1: $byQ")
    }
  }

  test("q_attribution_linear conserves purchase revenue within per-credit rounding") {
    val out = Relational.q_attribution_linear(spark, sf).collect()
    val credited = out.map(_.getLong(2)).sum
    val nCredits = out.map(_.getLong(1)).sum
    val total = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .agg(sum(col("value") * 10000)).head().getDouble(0)
    assert(math.abs(credited - total) <= nCredits.toDouble,
      s"credits $credited must equal purchase total $total within rounding (±1 per credit)")
  }

  test("q_cohort_ltv: cumulative LTV is nondecreasing and ends at the cohort total") {
    import spark.implicits._
    val rows = Relational.q_cohort_ltv(spark, sf)
      .as[(Long, Long, Double, Double)].collect().groupBy(_._1)
    for ((cohort, curve) <- rows) {
      val sorted = curve.sortBy(_._2)
      assert(sorted.sliding(2).forall {
        case Array(a, b) => b._4 >= a._4 - 1e-9; case _ => true
      }, s"cohort $cohort LTV must be nondecreasing")
      assert(math.abs(sorted.map(_._3).sum - sorted.last._4) < 1e-6)
    }
  }

  test("q_event_gaps: gaps positive, mean bracketed by min and max") {
    val rows = Relational.q_event_gaps(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (mn, mx, mean) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(mn >= 0 && mn <= mean && mean <= mx, s"bad gap bracket: $r")
    }
  }

  test("q_log_odds: z re-derives from exact counts for the extreme word") {
    import spark.implicits._
    val out = Llm.q_log_odds(spark, sf).as[(String, Long, Long, Long)].collect()
    assert(out.nonEmpty && out.exists(_._4 != 0))
    val (ni, nj) = {
      val t = Tables.documents(spark, sf)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .agg(count(when(col("source") === "src0", 1)),
          count(when(col("source") =!= "src0", 1))).head()
      (t.getLong(0), t.getLong(1))
    }
    val (w, yi, yj, zMicro) = out.maxBy(r => math.abs(r._4))
    val aw = 1000.0 * ((yi + yj).toDouble / (ni + nj).toDouble)
    val delta = math.log((yi + aw) / (ni + 1000.0 - yi - aw)) -
      math.log((yj + aw) / (nj + 1000.0 - yj - aw))
    val z = delta / math.sqrt(1.0 / (yi + aw) + 1.0 / (yj + aw))
    assert(math.abs(z * 1000000 - zMicro) <= 1, s"driver re-derivation of '$w' off: $z vs $zMicro")
  }

  test("q_quantile_norm: monotone per source, values drawn from the global support") {
    import spark.implicits._
    val out = Llm.q_quantile_norm(spark, sf)
      .as[(Long, String, Long, Long)].collect()
    val globalVals = Tables.documents(spark, sf)
      .select("n_chars").as[Long].collect().toSet
    assert(out.forall(r => globalVals.contains(r._4)),
      "normalized values must come from the pooled support")
    for ((_, rows) <- out.groupBy(_._2)) {
      val sorted = rows.sortBy(r => (r._3, r._4))
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a._3 < b._3 || a._4 == b._4; case _ => true
      }, "same input value must map to the same normalized value")
      assert(sorted.map(_._4).toSeq == sorted.map(_._4).sorted.toSeq,
        "quantile map must be monotone within each source")
    }
  }

  test("q_cdc_apply: last-writer-wins fold matches a driver replay of the changelog") {
    import spark.implicits._
    val got = Relational.q_cdc_apply(spark, sf)
      .as[(Long, Double, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val base = Tables.orders(spark, sf).filter(col("o_orderkey") % 3 =!= 0)
      .select(col("o_orderkey"), col("o_totalprice"))
      .as[(Long, Double)].collect().toMap
    val log = Tables.events(spark, sf)
      .select(col("event_id"), col("value"), col("ts_ns"))
      .as[(Long, Double, Long)].collect()
    val lastOp = log.groupBy(_._1 % 4000).view.mapValues { ops =>
      val (id, v, _) = ops.maxBy(e => (e._3, e._1))
      val op = if (id % 11 == 0) "D" else if (id % 11 < 6) "U" else "I"
      (op, v)
    }.toMap
    val expect = (base.keySet ++ lastOp.keySet).flatMap { k =>
      lastOp.get(k) match {
        case Some(("D", _)) => None
        case Some((op, v)) => Some(k -> (v, op))
        case None => Some(k -> (base(k), "base"))
      }
    }.toMap
    assert(got == expect)
    // the interesting CDC cases must be NON-VACUOUS on the fixture:
    assert(got.exists(_._2._2 == "I"), "re-insert/new-key inserts present")
    assert(got.exists(_._2._2 == "U"), "updates present")
    assert(lastOp.exists(_._2._1 == "D"), "deletes present in the log")
    assert(got.exists(_._2._2 == "base"), "untouched base rows survive")
  }

  test("q_interval_prorate conserves each user's value within per-day rounding") {
    val out = Relational.q_interval_prorate(spark, sf).collect()
    val prorated = out.map(_.getLong(2)).sum
    val nUserDays = out.map(_.getLong(1)).sum
    val r = Tables.events(spark, sf).groupBy("user_id")
      .agg(min("ts_ns").as("a"), max("ts_ns").as("b"),
        sum(when(col("event_type") === "purchase", col("value")).otherwise(0.0)).as("v"))
      .filter(col("b") > col("a"))
      .agg(sum(col("v") * 10000)).head().getDouble(0)
    assert(math.abs(prorated - r) <= nUserDays.toDouble,
      s"prorated $prorated must equal span total $r within ±1 per user-day")
    // multi-day spans must actually occur (non-vacuous split)
    assert(out.length > 1 && nUserDays > Tables.events(spark, sf)
      .select("user_id").distinct().count(), "spans must cross days")
  }

  test("q_filter_waterfall: stages partition the corpus; waterfall agrees with the flag cascade") {
    import spark.implicits._
    val wf = Llm.q_filter_waterfall(spark, sf)
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val nIn = Tables.documents(spark, sf).count()
    assert(wf.values.map(_._2).sum == nIn, "stages must partition the corpus")
    // survivors after the last kill stage == the cascade's keep count
    val kept = Llm.q_c4_filters(spark, sf).filter(col("keep")).count()
    assert(wf("5_kept")._2 == kept, "first-kill attribution must agree with the flag cascade")
    assert(wf("5_kept")._4 == kept, "final survivors == kept docs")
    // waterfall is nonincreasing in stage order
    val sorted = wf.values.toSeq.sortBy(_._1).map(_._4)
    assert(sorted.sliding(2).forall { case Seq(a, b) => b <= a; case _ => true })
  }

  test("q_weighted_median re-derives from a driver-side weighted selection") {
    import spark.implicits._
    val got = Llm.q_weighted_median(spark, sf)
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val rows = Tables.documents(spark, sf)
      .select(col("source"), col("n_chars"),
        (length(col("text")) - length(translate(col("text"), " ", "")) + 1)
          .cast("long").as("w"))
      .as[(String, Long, Long)].collect()
    for ((src, docs) <- rows.groupBy(_._1)) {
      val total = docs.map(_._3).sum
      val sorted = docs.sortBy(_._2)
      var cum = 0L
      val med = sorted.find { d => cum += d._3; cum * 2 >= total }.get._2
      assert(got(src) == (med, total), s"$src: got ${got(src)}, want ($med, $total)")
    }
  }

  test("q_drift_wasserstein: exact rational W1 matches a driver replay; bounds hold") {
    val row = Llm.q_drift_wasserstein(spark, sf).head()
    val (numer, denom) = (row.getLong(0), row.getLong(1))
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select(col("n_chars"), (col("source") === "src0").as("isA"))
      .as[(Long, Boolean)].collect()
    val na = docs.count(_._2).toLong
    val nb = docs.size - na
    val vals = docs.groupBy(_._1).view
      .mapValues(g => (g.count(_._2).toLong, g.count(!_._2).toLong))
      .toSeq.sortBy(_._1)
    var (cuma, cumb, acc) = (0L, 0L, 0L)
    for (Seq((v1, (a, b)), (v2, _)) <- vals.sliding(2).map(_.toSeq)) {
      cuma += a; cumb += b
      acc += math.abs(cuma * nb - cumb * na) * (v2 - v1)
    }
    assert((numer, denom) == (acc, na * nb), s"got ($numer,$denom), want ($acc,${na * nb})")
    val range = vals.last._1 - vals.head._1
    assert(numer >= 0 && numer <= denom * range, "W1 must sit in [0, range]")
  }

  test("orc round-trip preserves values; predicates push into the ORC scan") {
    val orc = Sources.q_source_orc(spark, sf)
    val sup = Tables.supplier(spark, sf)
    assert(orc.except(sup).isEmpty && sup.except(orc).isEmpty)
    val plan = orc.filter(col("s_suppkey") > 5).queryExecution.executedPlan.toString()
    assert(plan.contains("PushedFilters: [IsNotNull(s_suppkey), GreaterThan(s_suppkey,5)"),
      s"expected ORC pushdown in:\n$plan")
  }

  test("q_contamination: src0 docs are the benchmark; only genuinely shared 5-grams count") {
    import spark.implicits._
    val out = Llm.q_contamination(spark, sf)
      .as[(Long, Long)].collect().toMap
    // every flagged doc is non-benchmark
    val src0Ids = Tables.documents(spark, sf).filter(col("source") === "src0")
      .select("doc_id").as[Long].collect().toSet
    assert(out.keySet.intersect(src0Ids).isEmpty)
    assert(out.values.forall(_ >= 1))
  }

  test("kMeans: monotone WCSS, in-range assignment, full coverage") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val model = Scale.kMeans(emb, "embedding", k = 4, maxIters = 4, trackWcss = true)
    assert(model.centroids.length == 4 && model.centroids.forall(_.length == 64))
    assert(model.wcssHistory.nonEmpty)
    // Lloyd's invariant: WCSS never increases between iterations
    model.wcssHistory.sliding(2).foreach {
      case Seq(a, b) => assert(b <= a + 1e-6, s"WCSS rose: ${model.wcssHistory}")
      case _ =>
    }
    val cl = model.assigned.select("cluster").as[Int].collect()
    assert(cl.length == emb.count() && cl.forall(c => c >= 0 && c < 4))
    // assignment is genuinely the nearest centroid for a spot-checked row
    val row = model.assigned.select(col("embedding").cast("array<double>"), col("cluster")).head()
    val v = row.getSeq[Double](0)
    val dists = model.centroids.map(c => c.zip(v).map { case (x, y) => (x - y) * (x - y) }.sum)
    assert(dists(row.getInt(1)) == dists.min)
  }

  test("mode aggregate: most frequent value wins on a constructed group") {
    import spark.implicits._
    val df = Seq(("a", 1), ("a", 2), ("a", 2), ("a", 3), ("b", 7), ("b", 7), ("b", 9))
      .toDF("k", "v")
    val got = df.groupBy("k").agg(mode(col("v")).as("m"))
      .as[(String, Int)].collect().toMap
    assert(got == Map("a" -> 2, "b" -> 7))
    // gate query: every group's mode really is a value from that group
    val out = Relational.q_agg_mode(spark, sf).collect()
    assert(out.forall(r => r.getLong(1) >= 1 && r.getLong(2) > 0))
  }

  test("unionByName with missing columns null-fills and aligns by name") {
    val out = Relational.q_union_byname(spark, sf)
    assert(out.columns.sorted.toSeq ==
      Seq("o_orderkey", "o_orderpriority", "o_totalprice", "src"))
    val n = Tables.orders(spark, sf).count()
    assert(out.count() == 2 * n)
    // side 'a' carries price, null priority; side 'b' the reverse
    assert(out.filter(col("src") === "a" &&
      (col("o_orderpriority").isNotNull || col("o_totalprice").isNull)).count() == 0)
    assert(out.filter(col("src") === "b" &&
      (col("o_totalprice").isNotNull || col("o_orderpriority").isNull)).count() == 0)
  }

  test("q_sample_hash: deterministic and key-consistent across runs") {
    import spark.implicits._
    val a = Relational.q_sample_hash(spark, sf).select("o_orderkey").as[Long].collect().toSet
    val b = Relational.q_sample_hash(spark, sf).select("o_orderkey").as[Long].collect().toSet
    assert(a == b && a.nonEmpty)
    val n = Tables.orders(spark, sf).count()
    // 41/256 ≈ 16% ± generous slack
    assert(a.size > n * 0.08 && a.size < n * 0.26, s"sample ${a.size} of $n out of band")
  }

  test("budgetTrim: prefiltered trim ≡ whole-source running window; forced under-cut takes the fallback") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val h = md5(col("doc_id").cast("string"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
      .orderBy(h, col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    def direct(budget: Long) = docs
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") - col("n_tokens") < budget)
      .select("doc_id", "source", "n_tokens", "cum_tokens")
    for (budget <- Seq(200L, 1000L)) {
      val want = direct(budget).collect().map(_.toSeq).toSet
      val got = Llm.budgetTrim(docs, budget)
        .select("doc_id", "source", "n_tokens", "cum_tokens")
        .collect().map(_.toSeq).toSet
      assert(got == want, s"prefiltered trim diverges at budget=$budget")
      // budgetTrim's cut over an "ff"-led hash (same order, every 60-bit
      // prefix above 255/256 of the span): at budget 200 every source's
      // ~0.93 threshold keeps no survivor, so every source under-cuts and
      // the exact whole-source fallback must reproduce the same trim; at
      // budget 1000 every threshold is 1 and the survivors are the source
      val forcedDf = Scale.prefixCut(
        docs.select(col("doc_id"), col("source"),
          graft.functions.Vec.wordCount(col("text")).as("n_tokens")),
        Seq("source"), concat(lit("ff"), h), Seq(col("doc_id")),
        Left(budget), weight = Some(col("n_tokens")))
      assert(ScaleSpec.fallbackRan(forcedDf) == (budget == 200L),
        s"the forced under-cut must take the fallback exactly at budget 200 (budget=$budget)")
      val forced = forcedDf.select(col("doc_id"), col("source"), col("n_tokens"),
          col("rn").as("cum_tokens"))
        .collect().map(_.toSeq).toSet
      assert(forced == want, s"fallback trim diverges at budget=$budget")
    }
  }

  test("q_pack_sequences: bins respect the budget, packing is greedy-tight and deterministic") {
    import spark.implicits._
    val out = Llm.q_pack_sequences(spark, sf)
      .select("doc_id", "source", "n_tokens", "bin_id")
      .as[(Long, String, Long, Long)].collect()
    // every document appears exactly once
    assert(out.map(_._1).distinct.length == out.length)
    assert(out.length == Tables.documents(spark, sf).count())
    val budget = 256L
    out.groupBy(t => (t._2, t._4)).foreach { case ((src, bin), docs) =>
      val tot = docs.map(_._3).sum
      // a bin exceeds the budget only when a single oversized doc owns it
      assert(tot <= budget || docs.length == 1, s"($src,$bin) holds $tot tokens in ${docs.length} docs")
    }
    // greedy-tight: within a source, consecutive bins can't be merged
    out.groupBy(_._2).foreach { case (src, docs) =>
      val binTotals = docs.groupBy(_._4).toSeq.sortBy(_._1)
        .map { case (b, ds) => (b, ds.map(_._3).sum, ds.minBy(_._1)._3) }
      binTotals.sliding(2).foreach {
        case Seq((b1, t1, _), (b2, _, first2)) =>
          assert(t1 + first2 > budget,
            s"$src: bin $b1 ($t1 tokens) could absorb the first doc (${first2}) of bin $b2")
        case _ =>
      }
    }
    // deterministic across runs
    val again = Llm.q_pack_sequences(spark, sf)
      .select("doc_id", "source", "n_tokens", "bin_id")
      .as[(Long, String, Long, Long)].collect()
    assert(out.sortBy(_._1).sameElements(again.sortBy(_._1)))
  }

  test("q_agg_histogram2: 8 adaptive buckets whose weights sum to the row count") {
    val rows = Relational.q_agg_histogram2(spark, sf).collect()
    assert(rows.length == 8, s"expected 8 buckets, got ${rows.length}")
    assert(rows.map(_.getLong(2)).sum == Tables.lineitem(spark, sf).count())
    val xs = rows.map(_.getDouble(1))
    assert(xs.sameElements(xs.sorted), "centroids must be ordered")
  }

  test("q_agg_theta: sketch set algebra matches exact pair overlaps below retention") {
    import spark.implicits._
    val exact = {
      val tu = Tables.events(spark, sf).select("event_type", "user_id").distinct()
        .as[(String, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      for ((a, ua) <- tu; (b, ub) <- tu if a < b)
        yield (a, b) -> ((ua & ub).size.toLong, (ua | ub).size.toLong)
    }
    val got = Relational.q_agg_theta(spark, sf)
      .as[(String, String, Double, Double)].collect()
    assert(got.nonEmpty)
    got.foreach { case (a, b, overlap, together) =>
      val (eo, eu) = exact((a, b))
      assert(overlap.round == eo && together.round == eu,
        s"($a,$b): sketch ($overlap,$together) vs exact ($eo,$eu)")
    }
  }

  test("q_agg_approx_topk: entries equal exact word counts (small vocab => exact)") {
    import spark.implicits._
    val rendered = Relational.q_agg_approx_topk(spark, sf).as[String].head()
    val exact = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").count().as[(String, Long)].collect()
      .sortBy { case (w, n) => (-n, w) }.take(10)
      .map { case (w, n) => s"$w:$n" }.mkString(",")
    assert(rendered == exact, s"approx_top_k rendered '$rendered' vs exact '$exact'")
  }

  test("q_agg_hll: DataSketches estimate within 5% of exact; sketches merge across unions") {
    val rows = Relational.q_agg_hll(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (approx, exact) = (r.getLong(1), r.getLong(2))
      assert(math.abs(approx - exact) <= math.max(1.0, exact * 0.05),
        s"${r.getString(0)}: approx $approx vs exact $exact")
    }
    // mergeability: union of two half-sketches ≡ sketch of the whole —
    // the incremental-rollup contract (aggregate days, merge into months)
    val e = Tables.events(spark, sf)
    val whole = e.agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id))")).head.getLong(0)
    val halves = e.withColumn("h", col("event_id") % 2)
      .groupBy("h").agg(expr("hll_sketch_agg(user_id)").as("sk"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))")).head.getLong(0)
    assert(whole == halves, s"merged sketch estimate $halves != whole $whole")
  }

  test("q_winsorize_approx: sketch clamp bounds within 1% of exact range, means within 0.1%") {
    val exact = Relational.q_winsorize(spark, "/root/testdata/sf0.01").collect()
      .map(r => r.getString(0) -> r).toMap
    val approx = Relational.q_winsorize_approx(spark, "/root/testdata/sf0.01").collect()
    assert(approx.nonEmpty && approx.length == exact.size)
    approx.foreach { a =>
      val e = exact(a.getString(0))
      assert(a.getLong(3) == e.getLong(3), s"${a.getString(0)}: group size differs")
      val range = e.getDouble(2) - e.getDouble(1) // exact hi - lo
      assert(math.abs(a.getDouble(1) - e.getDouble(1)) <= 0.01 * range,
        s"${a.getString(0)}: lo ${a.getDouble(1)} vs exact ${e.getDouble(1)} (range $range)")
      assert(math.abs(a.getDouble(2) - e.getDouble(2)) <= 0.01 * range,
        s"${a.getString(0)}: hi ${a.getDouble(2)} vs exact ${e.getDouble(2)} (range $range)")
      assert(math.abs(a.getDouble(5) - e.getDouble(5)) <= 0.001 * e.getDouble(5),
        s"${a.getString(0)}: mean_winsor ${a.getDouble(5)} vs exact ${e.getDouble(5)}")
    }
  }

  test("q_variant_funcs: VARIANT extraction agrees with from_json on every row") {
    val v = Relational.q_variant_funcs(spark, sf).select("event_id", "k_val")
    val j = Tables.events(spark, sf)
      .select(col("event_id"), get_json_object(col("props"), "$.k").cast("long").as("k_val"))
    assert(v.exceptAll(j).isEmpty && j.exceptAll(v).isEmpty)
  }

  test("df.stat APIs: approxQuantile brackets exact, freqItems, sampleBy, countMinSketch bounds") {
    val li = Tables.lineitem(spark, sf)
    val Array(q25, q50, q75) = li.stat.approxQuantile("l_quantity", Array(0.25, 0.5, 0.75), 0.01)
    assert(q25 <= q50 && q50 <= q75)
    val exactMedian = li.selectExpr("percentile(l_quantity, 0.5)").head.getDouble(0)
    assert(math.abs(q50 - exactMedian) <= 2.0, s"approx median $q50 vs exact $exactMedian")
    // freqItems: every value above the support threshold must appear
    val fi = li.stat.freqItems(Array("l_returnflag"), 0.3).head.getSeq[String](0)
    assert(fi.nonEmpty && fi.forall(Set("A", "N", "R")))
    // sampleBy: per-stratum fractions honored within binomial slack
    val sb = li.stat.sampleBy("l_returnflag", Map("A" -> 0.5, "N" -> 0.9, "R" -> 0.1), 42L)
      .groupBy("l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = li.groupBy("l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((k, f) <- Map("A" -> 0.5, "N" -> 0.9, "R" -> 0.1)) {
      val got = sb.getOrElse(k, 0L).toDouble / full(k)
      assert(math.abs(got - f) < 0.15, s"stratum $k: sampled ${got} of target $f")
    }
    // count-min sketch: never undercounts; eps-bounded overcount
    val cms = li.stat.countMinSketch("l_returnflag", 0.01, 0.99, 42)
    val exactA = li.filter(col("l_returnflag") === "A").count()
    val est = cms.estimateCount("A")
    assert(est >= exactA && est <= exactA + (0.01 * li.count()).toLong + 1,
      s"CMS estimate $est outside [$exactA, exact+eps*n]")
  }

  test("binnedRangeJoin ≡ naive range join, including bin-boundary and degenerate intervals") {
    import spark.implicits._
    val B = 100L // bin size for the test
    // points at bin boundaries, interiors, and far outside
    val points = Seq(0L, 1L, 99L, 100L, 101L, 199L, 200L, 250L, 999L)
      .toDF("pt").withColumn("pid", col("pt"))
    // intervals: ends exactly ON a bin boundary (must not match pt=200),
    // spanning 3 bins, sub-bin, degenerate (end==start), inverted
    val intervals = Seq(
      (1L, 50L, 200L),   // end on boundary: matches 99,100,101,199 NOT 200
      (2L, 0L, 301L),    // 4-bin span incl pt=0 (start inclusive)
      (3L, 120L, 130L),  // sub-bin: matches nothing in the set
      (4L, 500L, 500L),  // degenerate: matches nothing
      (5L, 400L, 300L))  // inverted: matches nothing
      .toDF("iid", "start", "end")
    val got = Scale.binnedRangeJoin(points, intervals, "pt", "start", "end", B)
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    val want = points.join(intervals,
        col("pt") >= col("start") && col("pt") < col("end"))
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    assert(got == want, s"binned=$got naive=$want")
    assert(want.contains((0L, 2L)) && want.contains((199L, 1L)) && !want.contains((200L, 1L)),
      "test data must exercise the boundary cases")
    // exactly-once: no pair may be emitted per-overlapping-bin
    val n = Scale.binnedRangeJoin(points, intervals, "pt", "start", "end", B).count()
    assert(n == want.size, s"each pair exactly once: got $n rows for ${want.size} pairs")
    // fractional bounds cannot be binned exactly: refused, not joined wrong
    val dpts = Seq(1.2, -0.5).toDF("pt")
    val divs = Seq((0.5, 1.5), (-1.0, -0.2)).toDF("start", "end")
    intercept[IllegalArgumentException] {
      Scale.binnedRangeJoin(dpts, divs, "pt", "start", "end", 1L)
    }
    // an interval spanning more bins than maxBinsPerRow raises the guard
    val wide = Seq((9L, 0L, 1000000L)).toDF("iid", "start", "end")
    try {
      spark.conf.set("spark.graft.rangeJoin.maxBinsPerRow", "1000")
      val e = intercept[Exception] {
        Scale.binnedRangeJoin(points, wide, "pt", "start", "end", B).collect()
      }
      assert(e.getMessage.contains("maxBinsPerRow"), e.getMessage)
    } finally spark.conf.unset("spark.graft.rangeJoin.maxBinsPerRow")
  }

  test("binnedRangeJoin: exact at epoch-ns magnitude (> 2^53) and on negative domains") {
    import spark.implicits._
    // ~2^61: double ulp here is 512 ns, so a double-division floor can
    // misplace values near bin boundaries — the integral floor-div must not
    val B = 1000000000L // 1 s in ns
    val base = 2300000000000000000L
    val points = Seq(base - 300, base - 100, base - 1, base, base + 1,
        base + 100, base + B - 550, base + B - 1, base + B, base + B + 1)
      .toDF("pt").withColumn("pid", col("pt") - base)
    val intervals = Seq(
      (1L, base - 120, base - 20),          // sub-ulp interval below a boundary
      (2L, base - 300, base + 5),           // straddles the boundary
      (3L, base, base + B),                 // exactly one bin
      (4L, base + B - 600, base + B - 100)) // sub-ulp interval below next boundary
      .toDF("iid", "start", "end")
    val got = Scale.binnedRangeJoin(points, intervals, "pt", "start", "end", B)
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    val want = points.join(intervals,
        col("pt") >= col("start") && col("pt") < col("end"))
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    assert(want.nonEmpty && got == want, s"binned=$got naive=$want")
    // negative domain: floor(-1 / 100) must be -1, not 0 (truncation bug)
    val npts = Seq(-250L, -101L, -100L, -1L, 0L, 99L).toDF("pt")
      .withColumn("pid", col("pt"))
    val nivs = Seq((1L, -150L, -50L), (2L, -100L, 100L), (3L, -300L, -200L))
      .toDF("iid", "start", "end")
    val ngot = Scale.binnedRangeJoin(npts, nivs, "pt", "start", "end", 100L)
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    val nwant = npts.join(nivs,
        col("pt") >= col("start") && col("pt") < col("end"))
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    assert(nwant.nonEmpty && ngot == nwant, s"binned=$ngot naive=$nwant")
  }

  test("globalSequence ≡ partition-less row_number, without the single-task funnel") {
    import spark.implicits._
    val df = spark.range(1, 501).toDF("id")
      .withColumn("k", md5(col("id").cast("string")))
      .repartition(7) // deliberately scrambled input partitioning
    val got = terasortShape(
        Scale.globalSequence(df, Seq(col("k"), col("id")), "pos", Scale.hexKeyProxy(col("k")), 5))
      .select("id", "pos").as[(Long, Long)].collect().toMap
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("k"), col("id"))
    val want = df.withColumn("pos", row_number().over(w).cast("long"))
      .select("id", "pos").as[(Long, Long)].collect().toMap
    assert(got == want)
    assert(got.values.toSeq.sorted == (1L to 500L), "positions are a 1..N permutation")
  }

  test("minhash LSH recall ≥ 0.8 against an EXACT shingle-Jaccard ground truth at sf0.01") {
    import spark.implicits._
    // LIKE-FOR-LIKE ground truth: minhashPairs estimates Jaccard over
    // 3-word SHINGLE sets, so the exact reference must too — setSimJoin
    // (PPJoin + exact verify) run over a text whose "words" ARE the
    // shingles (space-free tokens). Word-set Jaccard would be the wrong
    // yardstick on this corpus: a ~30-word vocabulary saturates it (a
    // quarter of RANDOM pairs clear 0.8) while shingle Jaccard stays
    // discriminative. Recall floor on exact shingle-J ≥ 0.7 pairs, LSH
    // at its gate threshold 0.5 — the quantitative upgrade of the
    // rows-only driver check.
    //
    // Determinism of the 0.8 floor: the minhash permutation family is a
    // compile-time-fixed splitmix64 constant schedule
    // (TextKernels.scala — no runtime seeding anywhere in the path), and
    // setSimJoin is exact, so this gate cannot flake run-to-run.
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val shingled = docs.select(col("doc_id"), array_join(
        expr("transform(sequence(1, greatest(size(split(text, ' ')) - 2, 1))," +
          " i -> concat_ws('§', slice(split(text, ' '), i, 3)))"), " ")
      .as("text"))
    val truth = Llm.setSimJoin(shingled, "doc_id", "text", t = 0.7)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(truth.size >= 10, s"ground truth too small to gate on: ${truth.size}")
    val predicted = Llm.minhashPairs(docs, threshold = 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val recall = truth.count(predicted.contains).toDouble / truth.size
    assert(recall >= 0.8, s"LSH recall $recall < 0.8 on ${truth.size} true pairs")
    // PRECISION gate (the other half): minhashPairs VERIFIES candidates
    // with exact shingle-set Jaccard ≥ 0.5 before emitting, so every
    // emitted pair must appear in setSimJoin's exact pair set at the
    // laxer t = 0.35 — two INDEPENDENT exact-Jaccard implementations
    // (builtin array_intersect/union over string shingles vs PPJoin
    // prefix-filter + verify over shingle tokens) agreeing pairwise.
    // Precision is 1.0 by construction; < 1.0 means the two exact
    // paths disagree on the shingle universe. (The est-only variant
    // measured 0.21 here — the selection-bias trap the verify stage
    // exists to close.)
    val lax = Llm.setSimJoin(shingled, "doc_id", "text", t = 0.35)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(predicted.nonEmpty, "LSH predicted no pairs — precision undefined")
    val precision = predicted.count(lax.contains).toDouble / predicted.size
    assert(precision >= 0.999,
      s"LSH precision $precision < 1 on ${predicted.size} predicted pairs")
  }

  test("wordPmi vocab cap: capped pair keys ⊆ uncapped; every capped n12 ≤ uncapped n12") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    // low support threshold so the subset law is exercised on a rich
    // pair set, cap small enough to actually prune
    val exact = Llm.wordPmi(docs, "doc_id", "text", minSupport = 5)
      .select("w1", "w2", "n12").as[(String, String, Long)].collect()
      .map { case (a, b, n) => (a, b) -> n }.toMap
    val capped = Llm.wordPmi(docs, "doc_id", "text", minSupport = 5, vocabCap = 10)
      .select("w1", "w2", "n12").as[(String, String, Long)].collect()
      .map { case (a, b, n) => (a, b) -> n }.toMap
    assert(capped.nonEmpty && exact.nonEmpty, "gate fixtures must produce pairs")
    assert(capped.size < exact.size, "cap=10 must actually prune on this corpus")
    val violations = capped.filterNot { case (k, n) => exact.get(k).exists(_ >= n) }
    assert(violations.isEmpty, s"capped pairs must be a dominated subset: $violations")
  }

  /** Planted near-dup corpus for the embedding recall gates: the sf0.01
    * embeddings plus a perturbed copy of the 100 smallest ids (copy id =
    * original + 100000). Jitter is splitmix64-deterministic and sized to
    * ~0.0173·‖v‖, i.e. cosine ≈ 0.9998 — comfortably inside every 0.95
    * gate threshold, so the 100 planted pairs are ground-truth positives
    * by construction (verified by brute force in the tests, not assumed).
    */
  private lazy val plantedEmbCorpus: org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val base = Tables.embeddings(spark, "/root/testdata/sf0.01")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val rows = base.filter(col("vec_id") < 100).as[(Long, Seq[Double])].collect()
    val planted = rows.map { case (id, e) =>
      val arr = e.toArray
      val norm = math.sqrt(arr.map(x => x * x).sum)
      val amp = 0.03 * norm / math.sqrt(arr.length.toDouble)
      val noisy = arr.zipWithIndex.map { case (x, i) =>
        val h = graft.functions.TextKernels.splitmix64(id * 1000003L + i)
        val u = (h >>> 11).toDouble / (1L << 53).toDouble * 2 - 1
        x + amp * u
      }
      (id + 100000L, noisy.toSeq)
    }.toSeq
    base.unionByName(planted.toDF("vec_id", "e")).localCheckpoint()
  }

  /** Exact cosine-≥ t pairs over the planted corpus, by brute force. */
  private def bruteCosinePairs(t: Double): Set[(Long, Long)] = {
    import spark.implicits._
    val a = plantedEmbCorpus.select(col("vec_id").as("id1"), col("e").as("e1"))
    val b = plantedEmbCorpus.select(col("vec_id").as("id2"), col("e").as("e2"))
    a.crossJoin(b).filter(col("id1") < col("id2"))
      .filter(graft.functions.Vec.cosine(col("e1"), col("e2")) >= t)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
  }

  test("embedPairs LSH recall ≥ 0.8 against brute-force cosine ground truth on planted near-dups") {
    import spark.implicits._
    val truth = bruteCosinePairs(0.95)
    assert(truth.size >= 100, s"the 100 planted pairs must be true positives: ${truth.size}")
    val predicted = Llm.embedPairs(plantedEmbCorpus, threshold = 0.95)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    // precision is exact by construction (pairs are cosine-verified
    // post-bucketing); recall is the LSH quantity under test. 12-plane
    // single-table collision at cosine 0.9998 is (1 − θ/π)^12 ≈ 0.94,
    // and both the plane matrix and the jitter are compile-time
    // deterministic, so the measured recall is a constant — 0.8 is a
    // real floor, not a statistical gamble.
    assert(predicted.subsetOf(truth.union(bruteCosinePairs(0.9499))),
      "every emitted pair must be cosine-verified (precision 1.0 modulo rounding)")
    val recall = truth.count(predicted.contains).toDouble / truth.size
    info(f"embed LSH recall = $recall%.3f on ${truth.size} true pairs")
    assert(recall >= 0.8, f"embed LSH recall $recall%.3f < 0.8")
  }

  test("semanticDedup recall ≥ 0.8 against the brute-force keep rule on planted near-dups") {
    import spark.implicits._
    // exact keep rule: i dropped iff SOME j < i has cos(i,j) ≥ 0.95 —
    // cluster-free brute force over the same corpus
    val exactDropped = bruteCosinePairs(0.95).map(_._2)
    assert(exactDropped.size >= 100, "planted copies must all be exact-dropped")
    val k = math.max(4, math.sqrt(plantedEmbCorpus.count().toDouble).ceil.toInt)
    val got = Scale.semanticDedup(plantedEmbCorpus, "vec_id", "e", k,
        threshold = 0.95, maxIters = 3)
      .filter(!col("keep")).select("vec_id").as[Long].collect().toSet
    assert(got.subsetOf(exactDropped),
      "semanticDedup must never drop an item without a true similar predecessor")
    val recall = exactDropped.count(got.contains).toDouble / exactDropped.size
    info(f"semanticDedup drop-recall = $recall%.3f on ${exactDropped.size} exact drops")
    assert(recall >= 0.8, f"semanticDedup recall $recall%.3f < 0.8")
  }

  test("mmrSelect: exact top-1 first, near-dup-free selection where plain top-k dups, deterministic") {
    import spark.implicits._
    // query = a PLANTED vector's embedding: its near-identical copy is
    // the top-2 hit, so plain top-k returns the dup pair and MMR must not
    val q = plantedEmbCorpus.filter(col("vec_id") === 0L)
      .select("e").head.getSeq[Double](0)
    val sel = Llm.mmrSelect(plantedEmbCorpus, q, k = 10, lambda = 0.5)
      .select("rank", "vec_id", "score").as[(Int, Long, Double)].collect()
    assert(sel.length == 10 && sel.map(_._2).distinct.length == 10)
    // first pick is the EXACT argmax of cosine vs the query
    val exactTop = plantedEmbCorpus
      .withColumn("c", graft.functions.Vec.cosine(col("e"),
        org.apache.spark.sql.functions.typedLit(q)))
      .orderBy(col("c").desc, col("vec_id")).limit(1)
      .select("vec_id").as[Long].head()
    assert(sel.head._2 == exactTop, s"first MMR pick must be the exact top-1: $sel")
    // plain top-10 cosine contains ≥ 1 near-dup pair (id, id+100000) by
    // construction; the MMR selection must contain NONE
    val plain = plantedEmbCorpus
      .withColumn("c", graft.functions.Vec.cosine(col("e"),
        org.apache.spark.sql.functions.typedLit(q)))
      .orderBy(col("c").desc, col("vec_id")).limit(10)
      .select("vec_id").as[Long].collect().toSet
    def dupPairs(ids: Set[Long]) = ids.count(i => i < 100000L && ids.contains(i + 100000L))
    assert(dupPairs(plain) >= 1, s"fixture must make plain top-k pick a dup pair: $plain")
    assert(dupPairs(sel.map(_._2).toSet) == 0,
      s"MMR(λ=0.5) must not select both members of a planted near-dup pair: ${sel.toSeq}")
    // deterministic: a second run reproduces the selection exactly
    val sel2 = Llm.mmrSelect(plantedEmbCorpus, q, k = 10, lambda = 0.5)
      .select("rank", "vec_id", "score").as[(Int, Long, Double)].collect()
    assert(sel.toSeq == sel2.toSeq)
    // λ = 1 degenerates to plain relevance top-k (order included)
    val rel = Llm.mmrSelect(plantedEmbCorpus, q, k = 5, lambda = 1.0)
      .select("vec_id").as[Long].collect().toSeq
    val plain5 = plantedEmbCorpus
      .withColumn("c", graft.functions.Vec.cosine(col("e"),
        org.apache.spark.sql.functions.typedLit(q)))
      .orderBy(col("c").desc, col("vec_id")).limit(5)
      .select("vec_id").as[Long].collect().toSeq
    assert(rel == plain5, s"λ=1 must equal relevance top-k: $rel vs $plain5")
  }

  test("basketLift basket cap: capped pair keys ⊆ uncapped; every capped n12 ≤ uncapped n12") {
    import spark.implicits._
    val ev = Tables.events(spark, sf)
    val exact = Relational.basketLift(ev, "user_id", "event_type")
      .select("t1", "t2", "n12").as[(String, String, Long)].collect()
      .map { case (a, b, n) => (a, b) -> n }.toMap
    // cap = 2 < the 5-type event domain, so per-user baskets really shrink
    val capped = Relational.basketLift(ev, "user_id", "event_type", basketCap = 2)
      .select("t1", "t2", "n12").as[(String, String, Long)].collect()
      .map { case (a, b, n) => (a, b) -> n }.toMap
    assert(exact.nonEmpty, "gate fixture must produce pairs")
    assert(capped.values.sum < exact.values.sum, "cap=2 must actually prune")
    val violations = capped.filterNot { case (k, n) => exact.get(k).exists(_ >= n) }
    assert(violations.isEmpty, s"capped pairs must be a dominated subset: $violations")
    // cap ≥ basket width ≡ exact (lossless below the cap)
    val wide = Relational.basketLift(ev, "user_id", "event_type", basketCap = 100)
      .select("t1", "t2", "n12").as[(String, String, Long)].collect()
      .map { case (a, b, n) => (a, b) -> n }.toMap
    assert(wide == exact, "a cap above every basket width must be a no-op")
  }

  test("globalCumSum ≡ partition-less running sum + grand total, without the funnel") {
    import spark.implicits._
    val df = spark.range(1, 501).toDF("id")
      .withColumn("k", md5(col("id").cast("string")))
      .withColumn("v", (pmod(col("id") * 37, lit(1000)).cast("double") / 100)
        .cast(org.apache.spark.sql.types.DecimalType(18, 2)))
      .repartition(7) // deliberately scrambled input partitioning
    val got = terasortShape(Scale.globalCumSum(df, Seq(col("k"), col("id")), col("v"),
        "cum", Scale.hexKeyProxy(col("k")), totalCol = "tot", numPartitions = 5))
      .select(col("id"), col("cum").cast("string"), col("tot").cast("string"))
      .as[(Long, String, String)].collect()
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("k"), col("id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val want = df
      .withColumn("cum", sum(col("v")).over(w))
      .crossJoin(df.agg(sum(col("v")).as("tot")))
      .select(col("id"), col("cum").cast("string"), col("tot").cast("string"))
      .as[(Long, String, String)].collect()
    assert(got.sortBy(_._1).toSeq == want.sortBy(_._1).toSeq)
    // desc order + long values: the other branch of the driver-side sum
    val gotDesc = Scale.globalCumSum(df.withColumn("lv", col("id") * 2),
        Seq(col("id").desc), col("lv"), "cum", -col("id").cast("double"), numPartitions = 5)
      .select("id", "cum").as[(Long, Long)].collect().toMap
    val wDesc = org.apache.spark.sql.expressions.Window.orderBy(col("id").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wantDesc = df.withColumn("lv", col("id") * 2)
      .withColumn("cum", sum(col("lv")).over(wDesc))
      .select("id", "cum").as[(Long, Long)].collect().toMap
    assert(gotDesc == wantDesc)
  }

  test("globalCumMaxPerGroup ≡ partition-less running sum + per-group max, one fused pass") {
    import spark.implicits._
    // signed values so the per-group max of the RUNNING sum differs from
    // both the group total and the grand total — a wrong offset or a
    // partition-local max would not survive this
    val df = spark.range(1, 501).toDF("id")
      .withColumn("k", md5(col("id").cast("string")))
      .withColumn("v", (pmod(col("id") * 37, lit(19)) - 9).cast("long"))
      .withColumn("g", pmod(col("id"), lit(7)))
      .repartition(6) // deliberately scrambled input partitioning
    val got = terasortShape(Scale.globalCumMaxPerGroup(df, Seq(col("k"), col("id")), col("v"),
        Seq((col("g") * 2, "g2")), "mx", Scale.hexKeyProxy(col("k")),
        Seq((when(col("v") > 0, 1L).otherwise(0L), "n_pos")),
        numPartitions = 5))
      .select("g2", "mx", "n_pos").as[(Long, Long, Long)].collect().toSet
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("k"), col("id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val want = df.withColumn("cum", sum(col("v")).over(w))
      .groupBy((col("g") * 2).as("g2"))
      .agg(max("cum").as("mx"),
        sum(when(col("v") > 0, 1L).otherwise(0L)).as("n_pos"))
      .select("g2", "mx", "n_pos").as[(Long, Long, Long)].collect().toSet
    assert(got == want && got.size == 7)
    // explicit boundaries (the md5 key above samples its own); same
    // totals law against a naive running sum ordered by (id).
    // Boundaries are deliberately UNEVEN and include an exact key value
    // (ties must stay whole) and an out-of-range bound (empty bucket).
    val got2 = terasortShape(Scale.globalCumMaxPerGroup(df, Seq(col("id")), col("v"),
        Seq((col("g"), "g")), "mx", col("id").cast("double"),
        Seq((lit(1L), "n_rows")), numPartitions = 5,
        boundaries = Some(Array(17.0, 100.0, 250.0, 250.0, 490.0, 9999.0))))
      .select("g", "mx", "n_rows").as[(Long, Long, Long)].collect().toSet
    val w2 = org.apache.spark.sql.expressions.Window.orderBy(col("id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val want2 = df.withColumn("cum", sum(col("v")).over(w2))
      .groupBy("g")
      .agg(max("cum").as("mx"), count(lit(1)).as("n_rows"))
      .select("g", "mx", "n_rows").as[(Long, Long, Long)].collect().toSet
    assert(got2 == want2 && got2.size == 7)
  }

  test("globalCumSums: N synchronized counters ≡ N single-column runs, one sort") {
    import spark.implicits._
    val df = spark.range(1, 401).toDF("id")
      .withColumn("k", md5(col("id").cast("string")))
      .withColumn("a", pmod(col("id") * 13, lit(7)))
      .withColumn("b", pmod(col("id") * 29, lit(11)))
      .repartition(6)
    val got = terasortShape(Scale.globalCumSums(df, Seq(col("k"), col("id")),
        Seq((col("a"), "ca"), (col("b"), "cb")), Scale.hexKeyProxy(col("k")),
        numPartitions = 5))
      .select("id", "ca", "cb").as[(Long, Long, Long)].collect()
      .map { case (id, b, c) => id -> ((b, c)) }.toMap
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("k"), col("id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val want = df
      .withColumn("ca", sum(col("a")).over(w))
      .withColumn("cb", sum(col("b")).over(w))
      .select("id", "ca", "cb").as[(Long, Long, Long)].collect()
      .map { case (id, b, c) => id -> ((b, c)) }.toMap
    assert(want.size == 400)
    assert(got == want)
  }

  test("one-shuffle bucketKey terasort ≡ partition-less window, all proxy shapes") {
    import spark.implicits._
    val df = spark.range(1, 501).toDF("id")
      .withColumn("k", md5(col("id").cast("string")))
      .withColumn("freq", pmod(col("id"), lit(5)) + 1) // HEAVY leading-key ties
      .withColumn("w",
        // string tiebreak with shared long prefixes (strFrac collapse),
        // an empty string, and a multi-byte UTF-8 string
        when(col("id") === 1, lit(""))
          .when(col("id") === 2, lit("züürich"))
          .otherwise(concat(lit("shared-prefix-"), lpad(col("id").cast("string"), 4, "0"))))
      .withColumn("dec", (pmod(col("id") * 37, lit(1000)).cast("double") / 100)
        .cast(org.apache.spark.sql.types.DecimalType(18, 2)))
      .repartition(7) // deliberately scrambled input partitioning

    // (1) hex leading key (md5): self-sampled boundaries
    val hexGot = Scale.globalSequence(df, Seq(col("k"), col("id")), "pos",
        Scale.hexKeyProxy(col("k")), 5)
    val w1 = org.apache.spark.sql.expressions.Window.orderBy(col("k"), col("id"))
    val want1 = df.withColumn("pos", row_number().over(w1).cast("long"))
      .select("id", "pos").as[(Long, Long)].collect().toMap
    assert(hexGot.select("id", "pos").as[(Long, Long)].collect().toMap == want1)

    // (2) adversarial EXPLICIT boundaries: duplicates, unsorted,
    // out-of-range, an exact data value (ties stay whole) — and the
    // degenerate empty array (single bucket, still correct). Explicit
    // boundaries live on globalCumMaxPerGroup: one group per row turns
    // its per-group peak of the running count into the row's position.
    val exactKey = hexGot.filter(col("pos") === 250)
      .select(Scale.hexKeyProxy(col("k"))).as[Double].head()
    def positions(bounds: Array[Double]) =
      Scale.globalCumMaxPerGroup(df, Seq(col("k"), col("id")), lit(1L),
          Seq((col("id"), "id")), "pos", Scale.hexKeyProxy(col("k")),
          numPartitions = 5, boundaries = Some(bounds))
        .select("id", "pos").as[(Long, Long)].collect().toMap
    assert(positions(Array(1.0e14, 5.0e13, 5.0e13, 2.2e14, exactKey, -4.0, 9.9e99)) == want1)
    assert(positions(Array.empty[Double]) == want1)

    // (3) zipf shape: (freq DESC, string w) via -freq + strFrac(w)
    val wz = org.apache.spark.sql.expressions.Window.orderBy(col("freq").desc, col("w"))
    val wantZ = df.withColumn("r", row_number().over(wz).cast("long"))
      .select("id", "r").as[(Long, Long)].collect().toMap
    val gotZ = Scale.globalSequence(df, Seq(col("freq").desc, col("w")), "r", numPartitions = 5,
        bucketKey = -col("freq").cast("double") + Scale.strFrac(col("w")))
      .select("id", "r").as[(Long, Long)].collect().toMap
    assert(gotZ == wantZ)

    // (4) rfm shape: (v DESC, id) via -v + id·2⁻⁶³ (exact addends)
    val wantR = df.withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("freq").desc, col("id")))
        .cast("long"))
      .select("id", "r").as[(Long, Long)].collect().toMap
    val gotR = Scale.globalSequence(df, Seq(col("freq").desc, col("id")), "r", numPartitions = 5,
        bucketKey = -col("freq").cast("double")
          + col("id").cast("double") * lit(math.pow(2.0, -63)))
      .select("id", "r").as[(Long, Long)].collect().toMap
    assert(gotR == wantR)

    // (5) balanced shape: few-valued STRING leading key via its ordinal
    // in the collected sorted class list + hexFrac tiebreak
    val lang = concat(lit("lang"), pmod(col("id"), lit(3)))
    val dfl = df.withColumn("lang", lang)
    val langs = dfl.select("lang").distinct.as[String].collect().sorted
    val wantL = dfl.withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("lang"), col("k"), col("id")))
        .cast("long"))
      .select("id", "r").as[(Long, Long)].collect().toMap
    val gotL = Scale.globalSequence(dfl, Seq(col("lang"), col("k"), col("id")), "r", numPartitions = 5,
        bucketKey = array_position(typedLit(langs.toSeq), col("lang")).cast("double")
          + Scale.hexFrac(col("k")))
      .select("id", "r").as[(Long, Long)].collect().toMap
    assert(gotL == wantL)

    // (6) globalCumSum bucketed, decimal DESC with grand total (abc shape)
    val wc = org.apache.spark.sql.expressions.Window.orderBy(col("dec").desc, col("id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wantC = df.withColumn("cum", sum(col("dec")).over(wc))
      .crossJoin(df.agg(sum(col("dec")).as("tot")))
      .select(col("id"), col("cum").cast("string"), col("tot").cast("string"))
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    val gotC = Scale.globalCumSum(df, Seq(col("dec").desc, col("id")), col("dec"),
        "cum", -col("dec"), totalCol = "tot", numPartitions = 5)
      .select(col("id"), col("cum").cast("string"), col("tot").cast("string"))
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(gotC == wantC)

    // (7) globalCumSums, decimal leading key, two synchronized counters
    val wm = org.apache.spark.sql.expressions.Window.orderBy(col("dec"), col("id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val gotM = Scale.globalCumSums(df, Seq(col("dec"), col("id")),
        Seq((col("freq"), "cf"), (col("id"), "ci")), col("dec"), numPartitions = 5)
      .select("id", "cf", "ci").as[(Long, Long, Long)].collect()
      .map { case (i, a, b) => i -> ((a, b)) }.toMap
    val wantM = df
      .withColumn("cf", sum(col("freq")).over(wm))
      .withColumn("ci", sum(col("id")).over(wm))
      .select("id", "cf", "ci").as[(Long, Long, Long)].collect()
      .map { case (i, a, b) => i -> ((a, b)) }.toMap
    assert(gotM == wantM)
  }

  test("strFrac / hexKeyProxy are order-consistent with their string keys") {
    import spark.implicits._
    // adversarial strings: empty, prefix-of-another, shared 6-byte
    // prefix (collapse allowed: proxy EQUAL is legal, inversion is not),
    // multi-byte UTF-8 (ü, 汉), high-vs-low bytes after the prefix
    val strs = Seq("", "a", "ab", "abcdef", "abcdefg", "abcdefh", "abcdeg",
      "b", "ü", "üa", "汉字", "汉", "zz", "shared-prefix-0001", "shared-prefix-0002")
    val rows = strs.toDF("s")
      .withColumn("p", Scale.strFrac(col("s")))
      .orderBy("s")
      .select("s", "p").as[(String, Double)].collect()
    rows.sliding(2).foreach { case Array((s1, p1), (s2, p2)) =>
      assert(p1 <= p2, s"strFrac inverted: '$s1'→$p1 vs '$s2'→$p2")
      assert(p1 >= 0.0 && p1 < 1.0, s"strFrac('$s1')=$p1 out of [0,1)")
    }
    // hexKeyProxy over md5: numeric order == lexicographic hex order
    val hx = spark.range(1, 300).toDF("id")
      .withColumn("h", md5(col("id").cast("string")))
      .withColumn("p", Scale.hexKeyProxy(col("h")))
      .orderBy("h")
      .select("h", "p").as[(String, Double)].collect()
    hx.sliding(2).foreach { case Array((h1, p1), (h2, p2)) =>
      assert(p1 <= p2, s"hexKeyProxy inverted: $h1→$p1 vs $h2→$p2")
    }
  }

  test("globalCumSum on doubles: matches the naive running sum and survives NaN/Infinity") {
    import spark.implicits._
    // plain double path (no NaN): bit-exact vs the naive plan is not
    // guaranteed for float sums in general, but both formulations add the
    // same values in the same total order here, so they agree exactly
    val df = spark.range(1, 201).toDF("id")
      .withColumn("v", (col("id") % 7).cast("double") / 4)
      .repartition(5)
    val got = Scale.globalCumSum(df, Seq(col("id")), col("v"), "cum",
        col("id").cast("double"), totalCol = "tot", numPartitions = 4)
      .select("id", "cum", "tot").as[(Long, Double, Double)].collect().sortBy(_._1)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val want = df.withColumn("cum", sum(col("v")).over(w))
      .crossJoin(df.agg(sum(col("v")).as("tot")))
      .select("id", "cum", "tot").as[(Long, Double, Double)].collect().sortBy(_._1)
    assert(got.map(t => (t._1, math.abs(t._2 - want(got.indexOf(t))._2) < 1e-9)).forall(_._2))
    assert(math.abs(got.head._3 - want.head._3) < 1e-9)
    // NaN partition sum must flow through (poisoning downstream rows, the
    // float-sum contract) instead of crashing the driver in BigDecimal
    val poisoned = df.withColumn("v",
      when(col("id") === 42, lit(Double.NaN)).otherwise(col("v")))
    val nanRows = Scale.globalCumSum(poisoned, Seq(col("id")), col("v"), "cum",
        col("id").cast("double"), totalCol = "tot", numPartitions = 4)
      .select("id", "cum").as[(Long, Double)].collect()
    assert(nanRows.length == 200, "NaN input must not crash globalCumSum")
    assert(nanRows.filter(_._1 >= 42).forall(r => r._2.isNaN),
      "rows at/after the NaN carry NaN, per float-sum semantics")
  }

  test("Scratch.release frees localCheckpoint storage; bpeTrain does not accumulate it") {
    import spark.implicits._
    def persistedIds = spark.sparkContext.getPersistentRDDs.keySet
    val before = persistedIds
    val ck = Seq(1, 2, 3).toDF("x").localCheckpoint()
    assert(ck.count() == 3)
    val added = persistedIds -- before
    assert(added.nonEmpty, "localCheckpoint must persist blocks")
    Scratch.release(ck)
    assert((persistedIds -- before).isEmpty, "Scratch.release must release them")
    // bpeTrain: one checkpoint per merge round must NOT stay cached per
    // round — at vocabulary scale (~30k merges) that growth is unbounded
    val pre = persistedIds
    val docs = Seq.fill(50)("low lower lowest low low new newer").toDF("text")
    val (merges, words) = Llm.bpeTrain(docs, "text", numMerges = 8)
    assert(merges.size == 8)
    val live = (persistedIds -- pre).size
    assert(live <= 1, s"only the final round's checkpoint may remain, found $live")
    Scratch.release(words)
  }

  test("semanticDedup: identical vectors collapse to the min id; dissimilar vectors survive") {
    import spark.implicits._
    // ids 1,2: IDENTICAL vectors (same L2 point → same cluster under any
    // centroid set, cos=1); 4: cos≈0.89 to them (< 0.95); 3: orthogonal.
    val vecs = Seq(
      (1L, Array(1.0, 0.0, 0.0)),
      (2L, Array(1.0, 0.0, 0.0)),
      (3L, Array(0.0, 1.0, 0.0)),
      (4L, Array(1.0, 0.5, 0.0)))
      .toDF("id", "v")
    val out = Scale.semanticDedup(vecs, "id", "v", k = 2, threshold = 0.95)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out.size == 4)
    assert(out(1L), "smallest id of the dup group is kept")
    assert(!out(2L), "larger-id exact dup is dropped")
    assert(out(3L) && out(4L), "sub-threshold similarity must not dedup")
  }

  test("q_dedup_semantic: canary kept, its twin dropped, keep rule verified brute-force") {
    import spark.implicits._
    val out = Llm.q_dedup_semantic(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
    val n = Tables.embeddings(spark, sf).count()
    assert(out.length == n + 1, "one row per item incl. the planted canary")
    val byId = out.map(t => t._1 -> t).toMap
    assert(byId(-1L)._3, "canary (id -1) is the smaller id of its dup pair — kept")
    val minReal = out.map(_._1).filter(_ >= 0).min
    assert(!byId(minReal)._3, s"vec $minReal is an exact copy of the canary — dropped")
    // brute-force the keep rule: dropped ⇔ ∃ same-cluster smaller id with cos ≥ 0.95
    val embs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().toMap
    val vecsAll = embs + (-1L -> embs(minReal))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    out.foreach { case (id, cl, keep) =>
      val hasSimilarSmaller = out.exists { case (j, cj, _) =>
        cj == cl && j < id && cos(vecsAll(j), vecsAll(id)) >= 0.95
      }
      assert(keep == !hasSimilarSmaller, s"keep rule violated for vec $id (cluster $cl)")
    }
  }

  test("dedupSpans removes exactly the planted duplicated spans, all occurrences") {
    import spark.implicits._
    val boiler = "all rights reserved see terms of use" // 7 tokens, planted twice
    val docs = Seq(
      (1L, s"alpha beta $boiler gamma"),
      (2L, s"$boiler delta epsilon"),
      (3L, "zeta eta theta iota kappa lambda mu nu"), // unique: untouched
      (4L, "short doc"), // shorter than k: no grams, untouched
      (5L, boiler)) // nothing but the span: fully cleaned
      .toDF("doc_id", "text")
    val got = Llm.dedupSpans(docs, "doc_id", "text", k = 7, minOcc = 2)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(got(0) == ((1L, "alpha beta gamma", 3L, 7L)))
    assert(got(1) == ((2L, "delta epsilon", 2L, 7L)))
    assert(got(2) == ((3L, "zeta eta theta iota kappa lambda mu nu", 8L, 0L)))
    assert(got(3) == ((4L, "short doc", 2L, 0L)))
    assert(got(4) == ((5L, "", 0L, 7L)))
    // token conservation: n_kept + n_removed = original token count
    val counts = Llm.dedupSpans(docs, "doc_id", "text", k = 7, minOcc = 2)
      .select(col("n_kept") + col("n_removed"))
      .as[Long].collect().sorted.toSeq
    assert(counts == Seq(2L, 7L, 8L, 9L, 10L))
    // minOcc above the plant count (3 occurrences): nothing passes the bar
    assert(Llm.dedupSpans(docs, "doc_id", "text", k = 7, minOcc = 4)
      .agg(sum("n_removed")).as[Long].head() == 0L)
  }

  test("new ops survive empty/degenerate inputs (a production batch is sometimes empty)") {
    import spark.implicits._
    val noVecs = Seq.empty[(Long, Array[Double])].toDF("id", "v")
    assert(Scale.semanticDedup(noVecs, "id", "v", k = 4, threshold = 0.9).count() == 0)
    // fewer vectors than k: clusters just stay partially empty
    val two = Seq((1L, Array(1.0, 0.0)), (2L, Array(0.0, 1.0))).toDF("id", "v")
    assert(Scale.semanticDedup(two, "id", "v", k = 8, threshold = 0.9)
      .filter(col("keep")).count() == 2)
    val noEdges = Seq.empty[(Long, Long)].toDF("s", "t")
    assert(Scale.triangleCount(noEdges, "s", "t").count() == 0)
    val pts = Seq(1L, 2L).toDF("pt")
    val noIv = Seq.empty[(Long, Long)].toDF("start", "end")
    assert(Scale.binnedRangeJoin(pts, noIv, "pt", "start", "end", 10L).count() == 0)
    // empty corpus index: incremental dedup degrades to within-batch dedup
    val batch = Seq((1L, "k"), (2L, "k")).toDF("id", "k")
    val keep = Llm.incrementalDedup(batch, "id", "k", Seq.empty[String].toDF("k"))
      .select("id", "keep").as[(Long, Boolean)].collect().toMap
    assert(keep == Map(1L -> true, 2L -> false))
    // empty text: BPE learns nothing and says so
    val (m, _) = Llm.bpeTrain(Seq.empty[String].toDF("text"), "text", 3)
    assert(m.isEmpty)
    // round-4 ops: empty corpora / single-row groups degrade, not die
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Llm.setSimJoin(noDocs, "doc_id", "text", t = 0.8).count() == 0)
    assert(Llm.contaminationFuzzy(noDocs, noDocs, threshold = 0.5).count() == 0)
    val oneDoc = Seq((1L, "only one document here")).toDF("doc_id", "text")
    assert(Llm.setSimJoin(oneDoc, "doc_id", "text", t = 0.8).count() == 0)
    // one side empty: decontamination reports nothing, never errors
    assert(Llm.contaminationFuzzy(oneDoc, noDocs, threshold = 0.5).count() == 0)
  }

  test("BPE training reproduces the published algorithm's trace on the classic corpus") {
    import spark.implicits._
    // Sennrich et al.'s worked example: low×5 lower×2 newest×6 widest×3.
    // Hand trace with (freq desc, left asc, right asc) tie-break:
    //   (e,s,9) → (es,t,9) → (est,</w>,9) → (l,o,7) → (lo,w,7)
    val corpus = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val docs = Seq(corpus.mkString(" ")).toDF("text")
    val (merges, words) = Llm.bpeTrain(docs, "text", numMerges = 5)
    assert(merges == Seq(("e", "s", 9L), ("es", "t", 9L), ("est", "</w>", 9L),
      ("l", "o", 7L), ("lo", "w", 7L)), s"got $merges")
    // merge 4 (l,o) then merge 5 (lo,w) fully fuse "low" → [low, </w>]
    val lowSyms = words.filter(col("cnt") === 5).select("syms")
      .as[Seq[String]].head()
    assert(lowSyms == Seq("low", "</w>"), s"got $lowSyms")
    // greedy non-overlap: aaa + merge (a,a) → [aa, a], not [aa, aa]
    val (m2, w2) = Llm.bpeTrain(Seq("aaa aaa").toDF("text"), "text", numMerges = 1)
    assert(m2.head._1 == "a" && m2.head._2 == "a")
    assert(w2.select("syms").as[Seq[String]].head() == Seq("aa", "a", "</w>"))
  }

  test("BPE encode: greedy rank replay == trained word table; round-trip; Sennrich example") {
    import spark.implicits._
    val corpus = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val docs = Seq((1L, corpus.mkString(" "))).toDF("doc_id", "text")
    val (merges, _) = Llm.bpeTrain(docs, "text", numMerges = 5)
    val rules = merges.map { case (l, r, _) => (l, r) }
    // (e,s)(es,t)(est,</w>) fuse the suffix, then (l,o)(lo,w) fuse the
    // stem: unseen word "lowest" → [low, est</w>]
    val one = Llm.bpeEncode(Seq((9L, "lowest")).toDF("doc_id", "text"),
      "doc_id", "text", rules).select("tokens").as[Seq[String]].head()
    assert(one == Seq("low", "est</w>"), s"got $one")

    // parity on the fixture corpus: encoding every distinct word with the
    // learned rules must reproduce bpeTrain's final symbolized word table
    val fdocs = Tables.documents(spark, sf).select("doc_id", "text")
    val (fm, fwords) = Llm.bpeTrain(fdocs, "text", numMerges = 20)
    val trained = fwords.select(array_join(col("syms"), "|").as("j"))
      .as[String].collect().sorted.toSeq
    val vocabDocs = fdocs.select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0).distinct()
      .withColumn("doc_id", monotonically_increasing_id())
    val encoded = Llm.bpeEncode(vocabDocs, "doc_id", "w",
        fm.map { case (l, r, _) => (l, r) })
      .select(array_join(col("tokens"), "|").as("j"))
      .as[String].collect().sorted.toSeq
    assert(encoded == trained, "greedy encode diverges from training replay")

    // round-trip: concatenating tokens and dropping </w> restores the text
    val sample = fdocs.limit(50)
    val back = Llm.bpeEncode(sample, "doc_id", "text", fm.map { case (l, r, _) => (l, r) })
      .select(col("doc_id"),
        regexp_replace(array_join(col("tokens"), ""), "</w>$", "")
          .as("rt"))
      .withColumn("rt", regexp_replace(col("rt"), "</w>", " "))
    val joined = sample.join(back, "doc_id")
    assert(joined.filter(col("text") =!= col("rt")).isEmpty,
      "BPE tokens must losslessly reconstruct the text")
    // empty/whitespace-only docs survive with an empty token array
    val empty = Llm.bpeEncode(Seq((1L, "")).toDF("doc_id", "text"),
      "doc_id", "text", rules).select("tokens").as[Seq[String]].head()
    assert(empty.isEmpty)
  }

  test("perceptual hash: localized edit stays in radius; banding finds the canary pair") {
    // kernel: deterministic; a 1-byte edit moves one pooled segment →
    // at most 2 signature bits; a structurally different payload is far
    val base = ("some long media payload with varied content 0123456789 " * 20).getBytes
    val edited = base.clone(); edited(500) = (edited(500) + 120).toByte
    val ramp = Array.tabulate[Byte](base.length)(i => ((i * 7) % 256).toByte)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(Multimodal.phash64(base) == Multimodal.phash64(base.clone), "deterministic")
    assert(ham(Multimodal.phash64(base), Multimodal.phash64(edited)) <= 2,
      "one-byte edit must stay within the hamming screen")
    assert(ham(Multimodal.phash64(base), Multimodal.phash64(ramp)) > 3,
      "structurally different payloads must not pass the screen")
    // pipeline on the fixture: canary (-1 = copy of the min doc's hash)
    // flows signature → band bucket → hamming screen at hamming 0
    val rows = Multimodal.q_mm_phash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val minId = Tables.documents(spark, sf).agg(min("doc_id")).head.getLong(0)
    assert(rows.contains((-1L, minId, 0L)), s"canary pair missing from ${rows.take(5).toSeq}")
    assert(rows.forall { case (a, b, h) => a < b && h <= 3 })
  }

  test("int8 quantization: reconstruction within scale/2; quantized top-5 recall vs exact") {
    import spark.implicits._
    // reconstruction bound: |codes[i]*scale - e[i]| ≤ scale/2 (+ float slack)
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val bad = Llm.quantizeInt8(emb.withColumn("orig", col("e")), "e")
      .select(explode(zip_with(col("q_codes").cast("array<double>"), col("orig"),
        (q, o) => abs(q * col("q_scale") - o) - col("q_scale") * 0.5 - lit(1e-12))).as("excess"))
      .filter(col("excess") > 0).count()
    assert(bad == 0, s"$bad components reconstruct outside scale/2")
    // ranking survives quantization: mean recall@5 vs the exact baseline
    val exact = Llm.q_sim_topk(spark, sf)
      .select("qid", "cid").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val quant = Llm.q_sim_quantized(spark, sf)
      .select("qid", "cid").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(quant.keySet == exact.keySet)
    val recall = exact.map { case (q, ids) =>
      (ids intersect quant(q)).size.toDouble / ids.size }.sum / exact.size
    assert(recall >= 0.8, s"quantized recall@5 $recall < 0.8")
  }

  test("q_stat_crosstab: cells sum to table count; lateral top-n respects per-group limit") {
    val ct = Relational.q_stat_crosstab(spark, sf).collect()
    val cells = ct.map(r => r.getLong(1) + r.getLong(2)).sum
    assert(cells == Tables.lineitem(spark, sf).count())
    val lat = Relational.q_lateral_topn(spark, sf)
    val perNation = lat.groupBy("n_name").count().collect()
    assert(perNation.forall(_.getLong(1) <= 2) && perNation.length == 25)
  }

  /** Interpolated percentile matching Spark's `percentile` / DuckDB's
    * `quantile_cont`: index p*(n-1), linear between neighbors.
    */
  private def pctl(sorted: Array[Double], p: Double): Double = {
    val idx = p * (sorted.length - 1)
    val lo = idx.toInt
    if (lo == sorted.length - 1) sorted(lo)
    else sorted(lo) + (sorted(lo + 1) - sorted(lo)) * (idx - lo)
  }

  test("q_c4_filters: flags match a driver-side replay; keep is the conjunction; rules discriminate") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text", "n_chars").as[(Long, String, Long)].collect()
    val stops = Set("the", "and", "of", "to", "in")
    val expected = docs.map { case (id, text, nChars) =>
      val ws = text.split(" ") // Java default drops trailing empties, same as Spark's split
      val n = ws.length.toLong
      val sh = ws.count(stops).toLong
      val awl = BigDecimal((nChars - (n - 1)).toDouble / n + 1e-9)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val (rLen, rWlen, rStop, rBlock) =
        (n >= 30 && n <= 5000, awl >= 3.0 && awl <= 12.0, sh >= 2, !ws.contains("slow"))
      id -> (rLen, rWlen, rStop, rBlock, rLen && rWlen && rStop && rBlock)
    }.toMap
    val got = Llm.q_c4_filters(spark, sf)
      .select("doc_id", "r_len", "r_wlen", "r_stop", "r_block", "keep")
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean)].collect()
    assert(got.length == expected.size)
    got.foreach { case (id, a, b, c, dd, k) =>
      assert(expected(id) == ((a, b, c, dd, k)), s"doc $id") }
    // the cascade must discriminate: some rule rejects, some docs survive
    assert(got.exists(!_._4) && got.exists(!_._5) && got.exists(_._6))
  }

  test("q_outlier_mad: robust z matches a driver-side median/MAD replay") {
    import spark.implicits._
    val ev = Tables.events(spark, sf)
      .select("event_id", "event_type", "value").as[(Long, String, Double)].collect()
    val byType = ev.groupBy(_._2)
    val stats = byType.map { case (t, rows) =>
      val vs = rows.map(_._3).sorted
      val med = pctl(vs, 0.5)
      val mad = pctl(rows.map(r => math.abs(r._3 - med)).sorted, 0.5)
      t -> ((med, mad))
    }
    val expected = ev.flatMap { case (id, t, v) =>
      val (med, mad) = stats(t)
      val rz = BigDecimal(math.abs(v - med) / (mad * 1.4826) + 1e-9)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if (rz > 3.0) Some(id -> rz) else None
    }.toMap
    val res = Relational.q_outlier_mad(spark, sf)
      .select("event_id", "rz").as[(Long, Double)].collect().toMap
    assert(res.keySet == expected.keySet,
      s"missing=${(expected.keySet -- res.keySet).take(5)} extra=${(res.keySet -- expected.keySet).take(5)}")
    expected.foreach { case (id, rz) => assert(math.abs(res(id) - rz) < 1e-9, s"event $id") }
    assert(res.nonEmpty, "outlier screen is vacuous at sf0.001")
  }

  test("contaminationFuzzy: paraphrased eval doc caught, unrelated not; gate query emits the canary pair") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today " * 3
    val train = Seq((2L, base),
      (4L, "totally different training text about catalyst optimizer rules and shuffle partitions everywhere")
    ).toDF("doc_id", "text")
    val eval_ = Seq((3L, base.replace("lazy", "sleepy")), // paraphrase of train doc 2
      (5L, "an unrelated benchmark question concerning medieval history and crop rotation practices")
    ).toDF("doc_id", "text")
    val hits = Llm.contaminationFuzzy(train, eval_, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    assert(hits.exists(h => h._1 == 2L && h._2 == 3L && h._3 >= 0.5), s"paraphrase missed: ${hits.toSeq}")
    assert(!hits.exists(h => h._1 == 4L || h._2 == 5L), s"false positive: ${hits.toSeq}")
    // gate query: canary guarantees >= 1 row; sides keep their parity
    val gate = Llm.q_contamination_fuzzy(spark, sf).as[(Long, Long, Double)].collect()
    assert(gate.exists(_._2 == -1L), "canary pair missing")
    assert(gate.forall(h => h._1 % 2 == 0 && (h._2 % 2 != 0 || h._2 == -1L)))
  }

  test("q_dsir_weights: scores match a driver-side replay; en docs score higher than non-en") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text", "lang").as[(Long, String, String)].collect()
    val termsByDoc = docs.map { case (id, text, lang) => (id, lang, text.split(" ")) }
    val cntS = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val cntT = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    termsByDoc.foreach { case (_, lang, ws) =>
      ws.foreach { w => cntS(w) += 1; if (lang == "en") cntT(w) += 1 } }
    val (totS, totT, v) = (cntS.values.sum, cntT.values.sum, cntS.size.toLong)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val lr = cntS.keys.map { w =>
      w -> r6(math.log((cntT(w) + 1).toDouble / (totT + v)) -
        math.log((cntS(w) + 1).toDouble / (totS + v)) + 1e-9)
    }.toMap
    val expected = termsByDoc.map { case (id, _, ws) =>
      // engine: exact DECIMAL sum, then double division — replay the same
      val slr = ws.map(lr).sum
      id -> r6(slr.toDouble / ws.length + 1e-9).toDouble
    }.toMap
    val got = Llm.q_dsir_weights(spark, sf)
      .select("doc_id", "lang", "dsir_lr").as[(Long, String, Double)].collect()
    assert(got.length == expected.size)
    got.foreach { case (id, _, sc) =>
      assert(math.abs(sc - expected(id)) < 1e-9, s"doc $id: $sc vs ${expected(id)}") }
    // the signal works: target-language docs average above the rest
    val (en, rest) = got.partition(_._2 == "en")
    val avg = (xs: Array[(Long, String, Double)]) => xs.map(_._3).sum / xs.length
    assert(avg(en) > avg(rest), s"en ${avg(en)} !> rest ${avg(rest)}")
  }

  test("setSimJoin: pair set and Jaccard values match a brute-force replay at sf0.001/src0") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).filter(col("source") === "src0")
      .select("doc_id", "text").as[(Long, String)].collect()
    val sets = docs.map { case (id, text) => id -> text.split(" ").toSet }.toMap
    val ids = sets.keys.toSeq.sorted
    val t = 0.9
    val expected = (for {
      i <- ids.indices; j <- (i + 1) until ids.size
      a = ids(i); b = ids(j)
      inter = (sets(a) intersect sets(b)).size
      uni = sets(a).size + sets(b).size - inter
      if inter.toDouble / uni >= t
    } yield (a, b) -> ((inter.toLong, uni.toLong))).toMap
    val got = Llm.q_join_setsim(spark, sf)
      .select("id1", "id2", "inter", "uni").as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got.keySet == expected.keySet,
      s"missing=${(expected.keySet -- got.keySet).take(5)} extra=${(got.keySet -- expected.keySet).take(5)}")
    expected.foreach { case (k, v) => assert(got(k) == v, s"pair $k") }
    assert(expected.nonEmpty, "setsim gate is vacuous at sf0.001")
    // opt-in token cap bounds candidates but may drop pairs — subset law
    val capped = Llm.setSimJoin(
      Tables.documents(spark, sf).filter(col("source") === "src0"),
      "doc_id", "text", t = 0.9, maxToken = 4)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(capped.subsetOf(expected.keySet))
  }

  test("q_sample_group: exactly N per group, deterministic across runs, drawn from the group") {
    val a = Relational.q_sample_group(spark, sf).collect()
    val b = Relational.q_sample_group(spark, sf).collect()
    assert(a.toSeq == b.toSeq, "sample is not reproducible")
    val perGroup = a.groupBy(_.getString(0))
    val groupSizes = Tables.events(spark, sf).groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    perGroup.foreach { case (g, rows) =>
      assert(rows.length == math.min(20, groupSizes(g)), s"group $g")
      assert(rows.map(_.getLong(1)).sorted.toSeq == (1L to rows.length).toSeq)
    }
  }

  test("q_incr_rollup: merged partial states equal a direct full recompute") {
    val merged = Relational.q_incr_rollup(spark, sf).collect()
    val direct = Tables.events(spark, sf)
      .groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("value_sum"),
        min("value").as("min_v"), max("value").as("max_v"))
      .orderBy("event_type").collect()
    assert(merged.map(_.toSeq).toSeq == direct.map(_.toSeq).toSeq)
  }

  test("q_snapshot_diff: statuses partition the symmetric difference; same-rows absent") {
    import spark.implicits._
    val diff = Relational.q_snapshot_diff(spark, sf)
      .select("event_id", "status").as[(Long, String)].collect().toMap
    val ids = Tables.events(spark, sf).select("event_id").as[Long].collect()
    ids.foreach { id =>
      val inA = id % 7 != 0
      val inB = id % 5 != 0
      val changed = inA && inB && id % 3 == 0
      val want =
        if (inA && !inB) Some("removed")
        else if (!inA && inB) Some("added")
        else if (changed) Some("changed")
        else None
      assert(diff.get(id) == want, s"event $id")
    }
    assert(Set("added", "removed", "changed").subsetOf(diff.values.toSet))
  }

  test("q_share_of_total: shares are positive and sum to 1 within each group") {
    val rows = Relational.q_share_of_total(spark, sf)
      .collect().map(r => (r.getString(0), r.getDouble(3)))
    rows.foreach { case (_, sh) => assert(sh > 0 && sh <= 1.0) }
    rows.groupBy(_._1).foreach { case (g, xs) =>
      assert(math.abs(xs.map(_._2).sum - 1.0) < 1e-4, s"group $g sums to ${xs.map(_._2).sum}") }
  }

  test("q_word_pmi: counts and PMI match a driver-side replay") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect()
    val n = docs.length.toLong
    val sets = docs.map { case (_, t) => t.split(" ").toSet }
    val nw = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val n12 = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
    sets.foreach { ws =>
      ws.foreach(w => nw(w) += 1)
      val sorted = ws.toSeq.sorted
      for (i <- sorted.indices; j <- (i + 1) until sorted.size)
        n12((sorted(i), sorted(j))) += 1
    }
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = n12.collect { case (k, c) if c >= 50 =>
      k -> ((c, r6(math.log(c.toDouble * n / (nw(k._1) * nw(k._2))) + 1e-9)))
    }.toMap
    val got = Llm.q_word_pmi(spark, sf)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (k, (c, pmi)) =>
      assert(got(k)._1 == c && math.abs(got(k)._2 - pmi) < 1e-9, s"pair $k") }
    assert(expected.nonEmpty)
  }

  test("q_window_median: rolling median matches a driver-side frame replay") {
    import spark.implicits._
    val ev = Tables.events(spark, sf)
      .select("event_id", "user_id", "value").as[(Long, Long, Double)].collect()
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = ev.groupBy(_._2).flatMap { case (_, rows) =>
      val sorted = rows.sortBy(_._1)
      sorted.indices.map { i =>
        val frame = sorted.slice(math.max(0, i - 3), math.min(sorted.length, i + 4))
          .map(_._3).sorted
        sorted(i)._1 -> r4(pctl(frame, 0.5) + 1e-9)
      }
    }.toMap
    val got = Relational.q_window_median(spark, sf)
      .select("event_id", "med7").as[(Long, Double)].collect()
    assert(got.length == expected.size)
    got.foreach { case (id, m) =>
      assert(math.abs(m - expected(id)) < 1e-9, s"event $id: $m vs ${expected(id)}") }
  }

  test("q_ccnet_buckets: buckets partition the corpus into ordered near-terciles") {
    val b = Llm.q_ccnet_buckets(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(b.keySet == Set("head", "middle", "tail"))
    val total = Tables.documents(spark, sf).count()
    assert(b.values.map(_._1).sum == total)
    // tercile-ish sizes (ties can shift membership)
    b.foreach { case (k, (n, _, _)) =>
      assert(math.abs(n - total / 3.0) <= total * 0.05, s"bucket $k has $n") }
    // quality tiers are ordered: head's worst <= middle's best, etc.
    assert(b("head")._3 <= b("middle")._2 + 1e-9)
    assert(b("middle")._3 <= b("tail")._2 + 1e-9)
  }

  test("q_window_distinct: trailing distinct count matches a driver-side frame replay") {
    import spark.implicits._
    val ev = Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type").as[(Long, Long, String)].collect()
    val expected = ev.groupBy(_._2).flatMap { case (_, rows) =>
      val sorted = rows.sortBy(_._1)
      sorted.indices.map { i =>
        sorted(i)._1 -> sorted.slice(math.max(0, i - 9), i + 1).map(_._3).distinct.length.toLong
      }
    }.toMap
    val got = Relational.q_window_distinct(spark, sf)
      .select("event_id", "distinct_types_10").as[(Long, Long)].collect()
    assert(got.length == expected.size)
    got.foreach { case (id, n) => assert(n == expected(id), s"event $id") }
  }

  test("q_abc_class: classes follow cumulative share; every class present; shares monotone") {
    val rows = Relational.q_abc_class(spark, sf).collect()
      .map(r => (r.getDouble(1), r.getDouble(2), r.getString(3)))
    // cum_share is monotone non-decreasing in revenue-desc order, ends at ~1
    rows.sliding(2).foreach {
      case Array((_, s1, _), (_, s2, _)) => assert(s1 <= s2 + 1e-9)
      case _ =>
    }
    assert(math.abs(rows.last._2 - 1.0) < 1e-6)
    assert(rows.map(_._3).toSet == Set("A", "B", "C"))
    // class boundaries respect the thresholds
    rows.foreach { case (_, sh, c) =>
      val want = if (sh <= 0.80) "A" else if (sh <= 0.95) "B" else "C"
      assert(c == want)
    }
  }

  test("q_temperature_sample: quotas hit the target, α<1 flattens language shares, deterministic") {
    val rows = Llm.q_temperature_sample(spark, sf).collect()
    val byLang = rows.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    val total = byLang.values.sum
    assert(math.abs(total - 200) <= byLang.size, s"quota total $total") // per-lang floor(+0.5)
    val corpus = Tables.documents(spark, sf).groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nTot = corpus.values.sum.toDouble
    val (hi, lo) = (corpus.maxBy(_._2)._1, corpus.minBy(_._2)._1)
    // α-flattening: dominant language underweighted vs corpus, rarest overweighted
    assert(byLang(hi).toDouble / total < corpus(hi) / nTot, s"$hi not flattened")
    assert(byLang(lo).toDouble / total > corpus(lo) / nTot, s"$lo not boosted")
    assert(Llm.q_temperature_sample(spark, sf).collect().toSeq == rows.toSeq)
  }

  test("temperatureQuotas ≡ the SQL quota chain on random language censuses") {
    import org.apache.spark.sql.types.DecimalType
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.propBoolean
    import spark.implicits._
    // the gate's former all-SQL quotas: census → n_tot → DECIMAL(16,12)
    // α-weights → their sum → floor(200·w/Σw + 0.5), null lang dropped
    def sqlQuotas(census: Seq[(Option[String], Long)]) = {
      val counts = census.toDF("lang", "n_l")
      val tot = counts.agg(sum("n_l").as("n_tot"))
      val weights = counts.crossJoin(broadcast(tot))
        .withColumn("w",
          round(sqrt(col("n_l").cast("double") / col("n_tot")) + lit(1e-15), 12)
            .cast(DecimalType(16, 12)))
      val norm = weights.agg(sum("w").as("w_sum"))
      weights.crossJoin(broadcast(norm))
        .withColumn("quota",
          floor(lit(200) * (col("w").cast("double") / col("w_sum").cast("double")) +
            lit(0.5)).cast("long"))
        .filter(col("lang").isNotNull)
        .select(col("lang"), col("quota"), col("n_l")).as[(String, Long, Long)].collect().toSet
    }
    // 1–12 languages plus, half the time, a null-lang row; counts from
    // singletons to 10^12, so shares span twelve decades
    val n = Gen.frequency(1 -> Gen.choose(1L, 5L), 2 -> Gen.choose(1L, 100000L),
      1 -> Gen.choose(1L, 1000000000000L))
    val censuses = for {
      k <- Gen.choose(1, 12)
      ns <- Gen.listOfN(k, n)
      nullRow <- Gen.option(n)
    } yield ns.zipWithIndex.map { case (c, i) => (Option(s"l$i"), c) } ++
      nullRow.map(c => (Option.empty[String], c))
    // no shrinking: each shrink step re-runs the Spark reference
    val prop = Prop.forAllNoShrink(censuses) { census =>
      val got = Llm.temperatureQuotas(census, target = 200)
      (got.toSet == sqlQuotas(census)) :| s"census=$census got=$got"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(res.passed, res.status.toString)
  }

  test("q_basket_lift: pair lifts match a driver-side replay") {
    import spark.implicits._
    val ut = Tables.events(spark, sf)
      .select("user_id", "event_type").distinct().as[(Long, String)].collect()
    val n1 = ut.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val users = ut.map(_._1).distinct.length.toLong
    val byUser = ut.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val n12 = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
    byUser.values.foreach { ts =>
      for (i <- ts.indices; j <- (i + 1) until ts.size) n12((ts(i), ts(j))) += 1 }
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = n12.map { case ((a, b), c) =>
      (a, b) -> ((c, r6(c.toDouble * users / (n1(a) * n1(b)) + 1e-9)))
    }.toMap
    val got = Relational.q_basket_lift(spark, sf)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (k, (c, l)) =>
      assert(got(k)._1 == c && math.abs(got(k)._2 - l) < 1e-9, s"pair $k") }
  }

  test("q_churn: day-over-day movement matches a driver-side replay; all classes non-empty") {
    import spark.implicits._
    val pres = Tables.events(spark, sf)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct().as[(java.sql.Date, Long)].collect()
      .groupBy(_._1.toLocalDate).view.mapValues(_.map(_._2).toSet).toMap
    val days = pres.keys.toSeq.sorted
    val expected = days.init.map { d =>
      val today = pres(d)
      val tomorrow = pres.getOrElse(d.plusDays(1), Set.empty[Long])
      d.toString -> ((
        (today intersect tomorrow).size.toLong,
        (today diff tomorrow).size.toLong,
        (tomorrow diff today).size.toLong))
    }.toMap
    val got = Relational.q_churn(spark, sf).collect()
      .map(r => r.getDate(0).toString -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expected)
    assert(got.values.exists(_._2 > 0) && got.values.exists(_._3 > 0),
      "churn/new classes vacuous at sf0.001")
  }

  test("q_gini: closed form matches a driver-side replay; bounds hold") {
    import spark.implicits._
    val tot = Tables.orders(spark, sf)
      .select("o_custkey", "o_totalprice").as[(Long, Double)].collect()
      .groupBy(_._1).view.mapValues(
        _.map(r => BigDecimal(r._2).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum)
      .toMap
    val xs = tot.toSeq.sortBy { case (k, v) => (v, k) }.map(_._2)
    val n = xs.length
    val s1 = xs.zipWithIndex.map { case (x, i) => x * (i + 1) }.sum
    val s0 = xs.sum
    val want = BigDecimal(2.0 * s1.toDouble / (n * s0.toDouble) - (n + 1).toDouble / n + 1e-9)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val row = Relational.q_gini(spark, sf).collect().head
    assert(row.getLong(0) == n)
    assert(math.abs(row.getDouble(1) - want) < 1e-9)
    assert(row.getDouble(1) >= 0 && row.getDouble(1) < 1)
  }

  test("q_entropy: per-user entropy matches a replay; single-type users score zero") {
    import spark.implicits._
    val ev = Tables.events(spark, sf)
      .select("user_id", "event_type").as[(Long, String)].collect()
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val expected = ev.groupBy(_._1).map { case (u, rows) =>
      val counts = rows.groupBy(_._2).view.mapValues(_.length).toMap
      val tot = rows.length.toDouble
      val e = counts.values.map { c =>
        val p = c / tot; r6(-p * math.log(p) + 1e-9)
      }.sum
      u -> ((counts.size.toLong, e.toDouble))
    }
    val got = Relational.q_entropy(spark, sf)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (u, (k, e)) =>
      assert(got(u)._1 == k && math.abs(got(u)._2 - e) < 1e-9, s"user $u") }
    // entropy bounds: 0 <= H <= ln(n_types)
    got.values.foreach { case (k, e) =>
      assert(e >= 0 && e <= math.log(k.toDouble) + 1e-6) }
  }

  test("q_null_profile: census matches a driver-side replay") {
    import spark.implicits._
    val ev = Tables.events(spark, sf)
      .select("event_type", "user_id", "value", "props")
      .as[(String, Long, Double, String)].collect()
    val rows = Relational.q_null_profile(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows.keySet == Set("event_type", "props", "user_id", "value"))
    rows.values.foreach { case (n, _, _) => assert(n == ev.length) }
    assert(rows("event_type")._3 == ev.map(_._1).distinct.length)
    assert(rows("user_id")._3 == ev.map(_._2).distinct.length)
    assert(rows("value")._3 == ev.map(_._3).distinct.length)
    assert(rows("props")._3 == ev.map(_._4).distinct.length)
    rows.values.foreach { case (_, nNull, _) => assert(nNull == 0) } // fixture has no nulls
  }

  test("q_percent_change: MoM ratios match a driver-side replay; first month is null") {
    import spark.implicits._
    val monthly = Tables.orders(spark, sf)
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("m"), col("o_totalprice"))
      .as[(String, Double)].collect()
      .groupBy(_._1).view.mapValues(
        _.map(r => BigDecimal(r._2).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum)
      .toMap
    val months = monthly.keys.toSeq.sorted
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = Relational.q_percent_change(spark, sf)
      .collect().map(r => (r.getString(0), r.getDouble(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toList
    assert(got.map(_._1) == months.toList)
    got.zipWithIndex.foreach { case ((m, rev, pct), i) =>
      assert(math.abs(rev - monthly(m).toDouble) < 1e-6)
      if (i == 0) assert(pct.isEmpty)
      else {
        val prev = monthly(months(i - 1))
        val want = r6((monthly(m) - prev).toDouble / prev.toDouble + 1e-9)
        assert(math.abs(pct.get - want) < 1e-9, s"month $m")
      }
    }
  }

  test("q_funnel_latency: conversion count and latency percentiles match a replay") {
    import spark.implicits._
    val ev = Tables.events(spark, sf)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .select("user_id", "event_type", "ts_us").as[(Long, String, Long)].collect()
    val lats = ev.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val fs = rows.filter(_._2 == "signup").map(_._3).minOption
      val fp = rows.filter(_._2 == "purchase").map(_._3).minOption
      (fs, fp) match {
        case (Some(a), Some(b)) if b >= a => Some((b - a).toDouble)
        case _ => None
      }
    }.sorted.toArray
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val row = Relational.q_funnel_latency(spark, sf).collect().head
    assert(row.getLong(0) == lats.length)
    assert(lats.nonEmpty, "no conversions at sf0.001 — latency gate vacuous")
    Seq(0.25, 0.5, 0.75).zipWithIndex.foreach { case (p, i) =>
      assert(math.abs(row.getDouble(i + 1) - r4(pctl(lats, p) + 1e-9)) < 1e-9, s"p$p") }
  }

  test("q_event_streaks: longest-run pick matches a driver-side replay") {
    import spark.implicits._
    val ev = Tables.events(spark, sf)
      .select("user_id", "event_id", "event_type").as[(Long, Long, String)].collect()
    val expected = ev.groupBy(_._1).map { case (u, rows) =>
      val sorted = rows.sortBy(_._2)
      // runs of consecutive equal types, keeping (type, len, firstEvent)
      val runs = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
      sorted.foreach { case (_, id, t) =>
        if (runs.nonEmpty && runs.last._1 == t)
          runs(runs.length - 1) = (t, runs.last._2 + 1, runs.last._3)
        else runs += ((t, 1L, id))
      }
      u -> runs.minBy { case (t, len, first) => (-len, t, first) }
    }
    val got = Relational.q_event_streaks(spark, sf)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == expected.toMap)
  }

  test("q_two_hop: counts match a driver-side BFS on the chain+chord graph") {
    import spark.implicits._
    val ids = Tables.documents(spark, sf).select("doc_id").as[Long].collect().toSet
    val dir = ids.flatMap(i => Seq(i -> (i + 1)).filter(e => ids(e._2))) ++
      ids.filter(_ % 2 == 0).flatMap(i => Seq(i -> (i + 2)).filter(e => ids(e._2)))
    val und = (dir ++ dir.map(_.swap)).groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expected = ids.flatMap { a =>
      val direct = und.getOrElse(a, Set.empty)
      val two = direct.flatMap(b => und.getOrElse(b, Set.empty)) - a -- direct
      if (two.nonEmpty) Some(a -> two.size.toLong) else None
    }.toMap
    val got = Llm.q_two_hop(spark, sf)
      .as[(Long, Long)].collect().toMap
    assert(got == expected)
  }

  test("q_join_asof_forward matches a driver-side reference on sf0.001") {
    import spark.implicits._
    val events = Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type", "ts_ns")
      .as[(Long, Long, String, Long)].collect()
    val purchases = events.filter(_._3 == "purchase")
      .groupBy(_._2).view.mapValues(_.map(_._4 / 1000 * 1000).sorted).toMap
    val expected: Map[Long, Option[Long]] = events.map { case (id, uid, _, ts) =>
      val tsUs = ts / 1000 * 1000
      id -> purchases.getOrElse(uid, Array.empty[Long]).find(_ >= tsUs)
    }.toMap
    val got = Relational.q_join_asof_forward(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(got == expected)
  }

  test("q_benford: digit census matches a driver-side replay; shares close") {
    import spark.implicits._
    val vals = Tables.events(spark, sf).select("value").as[Double].collect().filter(_ > 0)
    val expected = vals.map(v => v.toString.find(c => c >= '1' && c <= '9').get.toString)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val rows = Relational.q_benford(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
    assert(rows.map(_._1).toSet == expected.keySet)
    rows.foreach { case (d, (n, _, _)) => assert(n == expected(d), s"digit $d") }
    // shares are distributions
    assert(math.abs(rows.map(_._2._2).sum - 1.0) < 1e-4)
    assert(math.abs(rows.map(_._2._3).sum - 1.0) < 1e-4)
    // closed form spot-check: benford share of digit 1 is log10(2)
    val b1 = rows.toMap.apply("1")._3
    assert(math.abs(b1 - math.log10(2.0)) < 1e-5)
  }

  test("q_twap: decimal-weighted time average matches a driver-side replay") {
    import spark.implicits._
    val ev = Tables.events(spark, sf)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .select("user_id", "event_id", "ts_us", "value")
      .as[(Long, Long, Long, Double)].collect()
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = ev.groupBy(_._1).map { case (u, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._2))
      val obs = sorted.zip(sorted.tail).map { case (a, b) => (a._4, b._3 - a._3) }
      val span = obs.map(_._2).sum
      val wsum = obs.map { case (v, dt) =>
        BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP) * BigDecimal(dt) }.sum
      u -> ((obs.length.toLong, span, r6(wsum.toDouble / span + 1e-9)))
    }
    val got = Relational.q_twap(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (u, (n, span, tw)) =>
      val (gn, gs, gt) = got(u)
      assert(gn == n && gs == span && math.abs(gt - tw) < 1e-9, s"user $u") }
  }

  test("q_interval_union: island merge matches a driver-side sweep") {
    import spark.implicits._
    val iv = 600000000L
    val ev = Tables.events(spark, sf)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .select("user_id", "ts_us").as[(Long, Long)].collect()
    val expected = ev.groupBy(_._1).map { case (u, rows) =>
      val starts = rows.map(_._2).sorted
      var islands = 0L; var covered = 0L
      var curS = -1L; var curE = -1L
      starts.foreach { s =>
        if (curE < 0 || s > curE) {
          if (curE >= 0) covered += curE - curS
          islands += 1; curS = s; curE = s + iv
        } else curE = math.max(curE, s + iv)
      }
      if (curE >= 0) covered += curE - curS
      u -> ((islands, covered))
    }
    val got = Relational.q_interval_union(spark, sf)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == expected)
    // sanity: merging can only shorten vs naive sum of interval lengths
    got.foreach { case (u, (_, cov)) =>
      assert(cov <= ev.count(_._1 == u).toLong * iv) }
  }

  test("q_feature_bins: bins partition the table; counts are near-equal; bounds nest") {
    val bins = Relational.q_feature_bins(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val total = Tables.events(spark, sf).count()
    assert(bins.map(_._2).sum == total)
    assert(bins.map(_._1).toSeq == (1 to 10))
    // equal-frequency: every decile within 2% of n/10 (ties can shift rows)
    bins.foreach { case (b, n, _, _) =>
      assert(math.abs(n - total / 10.0) <= total * 0.02, s"bin $b count $n") }
    // bins are ordered, non-overlapping ranges
    bins.sliding(2).foreach {
      case Array((_, _, _, hi1), (_, _, lo2, _)) => assert(hi1 <= lo2)
      case _ =>
    }
  }

  test("urlCanonicalize: surface-spelling edge cases collapse (or survive) correctly") {
    import spark.implicits._
    val in = Seq(
      // case + default port + trailing slash + utm junk + param order
      "https://WWW.Example.ORG:443/a/b/?z=1&a=2&utm_source=x",
      "https://www.example.org/a/b?a=2&z=1",
      // http scheme is preserved as https canonical prefix is fixed: the
      // canonicalizer treats scheme as already-https (crawl convention)
      "http://www.example.org/a/b?a=2&utm_medium=y&z=1",
      // no query string at all → empty param list
      "https://plain.example.org/x",
      "https://plain.example.org/x/",
      // :8080 is NOT the default port → must survive
      "https://alt.example.org:8080/x?a=1",
      "https://alt.example.org/x?a=1",
      // fragments are client-side state → dropped wherever they appear
      "https://plain.example.org/x#sec-2",
      "https://www.example.org/a/b?z=1&a=2#frag").toDF("url")
    val out = in.select(Llm.urlCanonicalize(col("url")).as("c"))
      .as[String].collect()
    assert(out(0) == out(1) && out(1) == out(2),
      s"spellings must collapse: ${out.mkString(", ")}")
    assert(out(3) == out(4), "trailing slash must not split the no-query form")
    assert(out(3) == "https://plain.example.org/x?")
    assert(out(5) != out(6), ":8080 is not a default port and must be preserved")
    assert(out(5).contains(":8080"))
    assert(out(7) == out(3), "path fragment must drop (vs bare no-query form)")
    assert(out(8) == out(0), "query fragment must drop (vs full messy form)")
  }

  test("q_blocklist_phrases: position-based census matches a driver-side sliding-window replay") {
    import spark.implicits._
    val phrases = Seq("slow query", "fast table", "hash join fast", "the window")
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .as[(Long, String)].collect()
    // overlap-safe reference: count every position whose token window
    // equals the phrase (sliding, NOT non-overlapping-regex semantics)
    val expected = (for {
      (id, t) <- docs
      ws = t.split(" ")
      p <- phrases
      pw = p.split(" ")
      n = ws.sliding(pw.length).count(_.sameElements(pw)) if n > 0
    } yield (id, p) -> n.toLong).toMap
    val got = Llm.q_blocklist_phrases(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == expected, s"diff: ${(got.toSet diff expected.toSet).take(3)} / ${(expected.toSet diff got.toSet).take(3)}")
    assert(got.nonEmpty, "fixture phrases must actually occur at sf0.001")
  }

  test("q_k_anon: reported groups are exactly the below-k QI cells of a driver-side census") {
    import spark.implicits._
    val expected = Tables.customer(spark, sf)
      .select(col("c_nationkey").cast("int"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("long"))
      .as[(Int, String, Long)].collect()
      .groupBy(identity).view.mapValues(_.length).filter(_._2 < 5).toMap
    val got = Relational.q_k_anon(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)) -> r.getLong(3)).toMap
    assert(got == expected.map { case (k, v) => k -> v.toLong })
    assert(got.values.forall(n => n >= 1 && n < 5))
  }

  test("q_readability: formula replay on known texts; bounds hold corpus-wide") {
    import spark.implicits._
    // monosyllabic short sentences vs polysyllabic run-on: the former
    // must score (much) higher — the discriminating property a
    // curriculum sort depends on
    val simple = "the cat sat. the dog ran. it was fun."
    val dense = "extraordinary organizational considerations necessitate comprehensive interdisciplinary evaluation methodologies"
    def flesch(t: String): Double = {
      val words = "[a-z0-9]+".r.findAllIn(t.toLowerCase).length.toDouble
      val sents = math.max(1.0, "[.!?]+".r.findAllIn(t).length.toDouble)
      val sylls = "[aeiouy]+".r.findAllIn(t.toLowerCase).length.toDouble
      BigDecimal(206.835 - 1.015 * words / sents - 84.6 * sylls / words + 1e-9)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(flesch(simple) > 90 && flesch(dense) < 0, "fixture texts must separate")
    val rows = Llm.q_readability(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // corpus-wide: every doc with at least one word is present, and no
    // score exceeds the formula's hard ceiling (sylls=0, one sentence
    // per word floor: 206.835 - 1.015)
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .as[(Long, String)].collect()
    val withWords = docs.filter { case (_, t) => "[a-z0-9]+".r.findAllIn(t.toLowerCase).nonEmpty }
    assert(rows.keySet == withWords.map(_._1).toSet)
    assert(rows.values.forall(_._2 <= 206.835 - 1.015 + 1e-6))
    // spot-replay the scala-side formula on 25 corpus docs
    for ((id, t) <- withWords.take(25)) {
      assert(math.abs(rows(id)._2 - flesch(t)) < 5e-4, s"doc $id: ${rows(id)._2} vs ${flesch(t)}")
    }
  }

  test("q_null_profile_approx: same report shape, HLL distincts within the configured rsd") {
    val exact = Relational.q_null_profile(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val approx = Relational.q_null_profile_approx(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (colName, (n, nNull, ndExact)) =>
      val (nA, nNullA, ndApprox) = approx(colName)
      assert(nA == n && nNullA == nNull, s"$colName: exact columns must agree")
      // 2% rsd HLL: allow 5 sigma (10%) + small-cardinality slack
      val tol = math.max(0.10 * ndExact, 4.0)
      assert(math.abs(ndApprox - ndExact) <= tol,
        s"$colName: approx $ndApprox vs exact $ndExact (tol $tol)")
    }
  }

  test("rendezvous sharding: k->k+1 moves only winners of the NEW shard") {
    import org.apache.spark.sql.functions.col
    // the defining property (exact, not statistical): growing the shard
    // count can only move a doc TO the new shard — every other shard's
    // weight is unchanged, so a doc moves iff the new shard's weight
    // beats its old max. Movement volume is ~1/(k+1) in expectation.
    val docs = Tables.documents(spark, sf)
    val assigned = docs.select(col("doc_id"),
        Llm.rendezvousShard(col("doc_id"), 8).as("s8"),
        Llm.rendezvousShard(col("doc_id"), 9).as("s9"))
      .collect().map(r => (r.getInt(1), r.getInt(2)))
    val moved = assigned.filter { case (a, b) => a != b }
    assert(moved.nonEmpty, "fixture too small to exercise a reshard move")
    assert(moved.forall(_._2 == 8),
      s"every moved doc must land on the NEW shard, got ${moved.filter(_._2 != 8).take(3).toSeq}")
    val frac = moved.length.toDouble / assigned.length
    assert(frac < 0.25, s"moved fraction $frac should be near 1/9")
  }
}
