package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Storage-layout behavior: partition pruning actually prunes and
  * bucketed joins actually avoid the shuffle — the plan-level facts that
  * make the layouts worth paying for at write time.
  */
class SinksSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  test("partitionBy write → reads prune partitions (PartitionFilters)") {
    val dir = Files.createTempDirectory("graft_part_").toString
    Sinks.partitionedParquet(Tables.events(spark, sf), dir, "event_type")
    val purchases = spark.read.parquet(dir).filter(col("event_type") === "purchase")
    val plan = purchases.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"),
      s"expected partition pruning in:\n$plan")
    // pruned read returns exactly the purchase rows
    val expected = Tables.events(spark, sf).filter(col("event_type") === "purchase").count()
    assert(purchases.count() == expected)
  }

  test("dynamic partition pruning: a selective dim filter prunes the fact's partitions at runtime") {
    // fact partitioned on the join key; the dim carries the selective
    // filter — static pruning can't see it, DPP injects a runtime
    // subquery filter into the fact scan (dynamicpruning expression)
    val dir = Files.createTempDirectory("graft_dpp_").toString
    Sinks.partitionedParquet(Tables.events(spark, sf), dir, "event_type")
    val fact = spark.read.parquet(dir)
    import spark.implicits._
    // the dim must be file-backed: a LocalRelation's filter constant-folds
    // away before PartitionPruning looks for a selective predicate
    val dimDir = Files.createTempDirectory("graft_dpp_dim_").toString
    Seq(("purchase", 1), ("view", 2)).toDF("etype", "w")
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter(col("w") === 1)
    // at KB test scale the stats-based benefit estimate says "not worth
    // it"; the fallback ratio path is what a large fact actually takes
    val key = "spark.sql.optimizer.dynamicPartitionPruning.useStats"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "false")
      val joined = fact.join(dim, col("event_type") === col("etype"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("dynamicpruning"),
        s"expected a dynamicpruning partition filter on the fact scan in:\n$plan")
      val expected = Tables.events(spark, sf).filter(col("event_type") === "purchase").count()
      assert(joined.count() == expected)
    } finally spark.conf.set(key, prev)
  }

  test("HLL sketches survive a parquet round-trip and merge to the whole-corpus estimate") {
    // the incremental-rollup contract END TO END: per-day sketches are
    // PERSISTED (binary column), read back by a later run, and merged —
    // estimate identical to sketching the whole corpus in one pass
    val dir = Files.createTempDirectory("graft_sketch_").toString
    val e = Tables.events(spark, sf)
    e.withColumn("day", to_date(col("ts")))
      .groupBy("day").agg(expr("hll_sketch_agg(user_id)").as("sketch"))
      .write.mode("overwrite").parquet(dir)
    val merged = spark.read.parquet(dir)
      .agg(expr("hll_sketch_estimate(hll_union_agg(sketch))")).head.getLong(0)
    val whole = e.agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id))")).head.getLong(0)
    assert(merged == whole, s"round-tripped merge $merged != one-pass $whole")
  }

  test("bucketed tables join with NO exchange on either side") {
    val d1 = Files.createTempDirectory("graft_bkt_li_").toString
    val d2 = Files.createTempDirectory("graft_bkt_ord_").toString
    Sinks.bucketedTable(Tables.lineitem(spark, sf), "li_b", d1, 8, Seq("l_orderkey"))
    Sinks.bucketedTable(Tables.orders(spark, sf), "ord_b", d2, 8, Seq("o_orderkey"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force a non-broadcast join so the bucket co-location is what's tested
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("li_b")
        .join(spark.table("ord_b"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      // the JOIN itself must need no shuffle: the only exchange allowed in
      // the plan is the one for the groupBy above the join
      val joinSection = plan.split("HashAggregate").last // below the agg
      assert(!joinSection.contains("Exchange hashpartitioning(l_orderkey") &&
        !joinSection.contains("Exchange hashpartitioning(o_orderkey"),
        s"bucketed join must not re-shuffle its inputs:\n$plan")
      // and results match the plain join
      val plain = Tables.lineitem(spark, sf)
        .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      assert(j.except(plain).isEmpty && plain.except(j).isEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS ord_b")
    }
  }

  test("rangeSortedParquet: files carry non-overlapping sort-key ranges; filters push down") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_sorted_").toString
    Sinks.rangeSortedParquet(Tables.orders(spark, sf), dir, "o_orderkey", files = 4)
    // per-file min/max must not overlap — that's what lets the parquet
    // reader skip whole files/row-groups on a key filter
    val perFile = spark.read.parquet(dir)
      .select(input_file_name().as("f"), col("o_orderkey"))
      .groupBy("f").agg(min("o_orderkey").as("mn"), max("o_orderkey").as("mx"))
      .as[(String, Long, Long)].collect().sortBy(_._2)
    assert(perFile.length >= 3, s"expected ~4 data files, got ${perFile.length}")
    perFile.sliding(2).foreach {
      case Array(a, b) => assert(a._3 < b._2, s"file ranges overlap: $a vs $b")
      case _ =>
    }
    val filtered = spark.read.parquet(dir).filter(col("o_orderkey") === 42L)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,42)"),
      s"expected parquet pushdown in:\n$plan")
    assert(spark.read.parquet(dir).count() == Tables.orders(spark, sf).count())
  }

  test("Observation collects pipeline metrics without a second pass") {
    val obs = new org.apache.spark.sql.Observation("qa")
    val out = Tables.orders(spark, sf)
      .observe(obs, count(lit(1)).as("rows"), sum(col("o_totalprice")).as("gross"))
      .filter(col("o_totalprice") > 0)
    out.collect()
    val m = obs.get
    assert(m("rows").asInstanceOf[Long] == Tables.orders(spark, sf).count())
    assert(m("gross").asInstanceOf[Double] > 0)
  }

  test("z-ordered write: a point query on the SECOND dim skips files; sorted layout cannot") {
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(spark, sf).select("l_partkey", "l_suppkey", "l_quantity")
    // fraction of output files whose [min,max] on `dim` contains v —
    // exactly the footer-stats test a reader uses to skip whole files
    def hitFraction(path: String, dim: String, v: Long): Double = {
      val files = spark.read.parquet(path)
        .withColumn("f", input_file_name())
        .groupBy("f").agg(min(dim).cast("long").as("lo"), max(dim).cast("long").as("hi"))
        .collect()
      files.count(r => r.getLong(1) <= v && v <= r.getLong(2)).toDouble / files.length
    }
    val zDir = java.nio.file.Files.createTempDirectory("graft_z").toString
    val sDir = java.nio.file.Files.createTempDirectory("graft_s").toString
    Sinks.zOrderedParquet(li, zDir, "l_partkey", "l_suppkey", 16)
    Sinks.rangeSortedParquet(li, sDir, "l_partkey", 16)
    assert(spark.read.parquet(zDir).count() == li.count())
    val midSupp = li.stat.approxQuantile("l_suppkey", Array(0.5), 0.0)(0).toLong
    // sorted-by-partkey files all span the full suppkey range → no skip
    assert(hitFraction(sDir, "l_suppkey", midSupp) >= 0.9,
      "sorted baseline unexpectedly skips on dim 2 — data assumption broke")
    // z-ordered files cover suppkey rectangles → most files skippable
    val zHit = hitFraction(zDir, "l_suppkey", midSupp)
    assert(zHit <= 0.6, f"dim-2 point query hits $zHit%.2f of z-files — no skipping power")
    // and dim-1 skipping is retained (not traded away entirely)
    val midPart = li.stat.approxQuantile("l_partkey", Array(0.5), 0.0)(0).toLong
    assert(hitFraction(zDir, "l_partkey", midPart) <= 0.6,
      "z-order must keep useful dim-1 skipping too")
  }

  test("compact: bin-packs a small-file directory, preserves content exactly, no-ops when already compact") {
    val dir = Files.createTempDirectory("graft_compact_").toString + "/t"
    val li = graft.ops.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_linenumber", "l_quantity")
    // simulate a fragmented table: one file per shuffle partition × 64
    li.repartition(64).write.mode("overwrite").parquet(dir)
    // (l_orderkey, l_linenumber) is NOT unique — compare as multisets
    val before = li.collect().map(_.toString).sorted
    val (nBefore, nAfter) = Sinks.compact(spark, dir, targetBytes = 512L << 20)
    assert(nBefore == 64 && nAfter < nBefore,
      s"expected a real compaction, got $nBefore -> $nAfter")
    val after = spark.read.parquet(dir).collect().map(_.toString).sorted
    assert(after.sameElements(before), "compaction must preserve content exactly")
    // no temp/backup residue from the swap
    val residue = new java.io.File(dir + "__compact_tmp").exists() ||
      new java.io.File(dir + "__compact_old").exists()
    assert(!residue, "swap must clean its staging directories")
    // second pass: already at/below target file count → no rewrite
    val firstFiles = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.lastModified)).toSet
    val (b2, a2) = Sinks.compact(spark, dir, targetBytes = 512L << 20)
    assert(b2 == a2 && b2 == nAfter)
    val secondFiles = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.lastModified)).toSet
    assert(secondFiles == firstFiles, "a no-op compaction must not rewrite files")
  }

  test("snapshot table: atomic versioned commits, time travel, conflict retry, vacuum reclaims losers") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_snap_").toString + "/t"
    val v1rows = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val v2rows = Seq((1L, "a2"), (2L, "b"), (3L, "c")).toDF("id", "v")
    assert(Sinks.Snapshots.commit(spark, v1rows, path) == 1)
    assert(Sinks.Snapshots.commit(spark, v2rows, path) == 2)
    assert(Sinks.Snapshots.versions(spark, path) == Seq(1, 2))
    // latest reads v2; time travel reads v1 unchanged AFTER v2 committed
    assert(Sinks.Snapshots.read(spark, path).count() == 3)
    val old = Sinks.Snapshots.read(spark, path, Some(1))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(old.toSeq == Seq((1L, "a"), (2L, "b")),
      "a committed snapshot must be immutable under later commits")
    // optimistic concurrency: steal version 3's commit token, then
    // commit — the writer must detect the conflict and land on v4
    val md = new java.io.File(s"$path/_manifests")
    val stolen = new java.io.File(md, "v00003.json")
    val fw = new java.io.FileWriter(stolen)
    fw.write("""{"version": 3, "data_dir": "data/v00003-stolen"}"""); fw.close()
    new java.io.File(s"$path/data/v00003-stolen").mkdirs()
    val v = Sinks.Snapshots.commit(spark, v1rows, path)
    assert(v == 4, s"conflicting writer must retry past the stolen token, got v$v")
    // a crashed commit = data dir with no manifest: invisible to reads
    new java.io.File(s"$path/data/v00099-orphan").mkdirs()
    assert(Sinks.Snapshots.read(spark, path).count() == 2) // v4 = v1rows
    // vacuum keeps the last 2 (v3 stolen + v4). With the DEFAULT
    // retention window the fresh orphan SURVIVES (it is
    // indistinguishable from an in-flight commit's data) while the
    // explicitly-dropped v1/v2 reclaim immediately
    Sinks.Snapshots.vacuum(spark, path, keepLast = 2)
    assert(Sinks.Snapshots.versions(spark, path) == Seq(3, 4))
    val midDirs = new java.io.File(s"$path/data").listFiles().map(_.getName).toSet
    assert(!midDirs.exists(_.startsWith("v00001")) &&
      !midDirs.exists(_.startsWith("v00002")),
      s"vacuum must reclaim explicitly-dropped data dirs immediately, left: $midDirs")
    assert(midDirs.contains("v00099-orphan"),
      "a fresh unreferenced dir could be an in-flight commit — the grace window must protect it")
    // past the window (retainMs = 0) the orphan is crash garbage: reclaimed
    Sinks.Snapshots.vacuum(spark, path, keepLast = 2, retainMs = 0L)
    val dataDirs = new java.io.File(s"$path/data").listFiles().map(_.getName).toSet
    assert(!dataDirs.contains("v00099-orphan"),
      s"expired vacuum must reclaim orphaned data dirs, left: $dataDirs")
    assert(Sinks.Snapshots.read(spark, path, Some(4)).count() == 2)
    intercept[java.util.NoSuchElementException] {
      Sinks.Snapshots.read(spark, path, Some(1))
    }
  }

  test("snapshot commit primitive refuses to overwrite an existing manifest (local-FS rename trap)") {
    // POSIX rename(2) — and therefore FileSystem.rename on the local FS —
    // silently REPLACES an existing destination file: two racing writers
    // would both be acknowledged for the same version and one commit
    // would be lost. The commit primitive must return false instead.
    val dir = Files.createTempDirectory("graft_snap_rename_").toString
    val src = new org.apache.hadoop.fs.Path(dir, "src.json")
    val dst = new org.apache.hadoop.fs.Path(dir, "dst.json")
    val f = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def write(p: org.apache.hadoop.fs.Path, s: String): Unit = {
      val o = f.create(p, true); o.write(s.getBytes("UTF-8")); o.close()
    }
    write(src, "a"); write(dst, "b")
    // control: the raw FileSystem rename DOES clobber on local FS — the
    // trap is real here, so the assertion below is meaningful
    assert(!Sinks.Snapshots.renameNoOverwrite(spark, src, dst),
      "rename onto an existing manifest must report a lost race, not clobber")
    val in = f.open(dst)
    val b = new Array[Byte](1); in.read(b); in.close()
    assert(b(0) == 'b'.toByte, "the existing manifest must be untouched after a refused rename")
    write(src, "a2")
    f.delete(dst, false)
    assert(Sinks.Snapshots.renameNoOverwrite(spark, src, dst),
      "rename onto a free destination must succeed")
  }

  test("conditional-put committer: racing writers land distinct versions exactly once (object-store seam)") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_snap_cput_").toString + "/t"
    // simulate an object store whose PUT carries If-None-Match: * — the
    // CAS table plays the server's atomic existence arbitration; the
    // local file write is the object body landing after the win
    val slots = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
    val fsys = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cput = new Sinks.Snapshots.ConditionalPutCommitter((dst, body) => {
      if (slots.putIfAbsent(dst.toString, java.lang.Boolean.TRUE) != null) false
      else { val o = fsys.create(dst, false); o.write(body); o.close(); true }
    })
    val a = Seq((1L, "a")).toDF("id", "v")
    val b = Seq((2L, "b")).toDF("id", "v")
    import scala.concurrent._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val futs = Seq(
      Future(Sinks.Snapshots.commit(spark, a, path, 5, cput)),
      Future(Sinks.Snapshots.commit(spark, b, path, 5, cput)))
    val vs = futs.map(Await.result(_, duration.Duration(180, "s")))
    pool.shutdown()
    assert(vs.toSet == Set(1, 2), s"racing writers must land distinct versions, got $vs")
    assert(Sinks.Snapshots.versions(spark, path) == Seq(1, 2))
    val all = Sinks.Snapshots.readLog(spark, path).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(all == Seq((1L, "a"), (2L, "b")),
      s"exactly-once: both commits present, neither duplicated, got $all")
  }

  test("two-winners race on a NON-atomic store (copy+delete rename): verify read-back demotes the loser") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_snap_torn_").toString + "/t"
    val fsys = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate S3A-style copy+delete rename: the publish CLOBBERS any
    // existing destination and acknowledges success — so two racers both
    // believe they committed the same version. Barrier 1 holds both
    // writers until each has targeted v1 (no manifest can land before
    // both computed next=1); barrier 2 holds both until BOTH bodies have
    // landed, so each verify reads the settled final manifest — the
    // deterministic worst case of the torn-rename window. Retries (3rd
    // entry on) bypass both.
    val entered = new java.util.concurrent.atomic.AtomicInteger(0)
    val barrier1 = new java.util.concurrent.CyclicBarrier(2)
    val barrier2 = new java.util.concurrent.CyclicBarrier(2)
    val acks = new java.util.concurrent.atomic.AtomicInteger(0)
    val lock = new Object
    val torn = new Sinks.Snapshots.ConditionalPutCommitter((dst, body) => {
      val racing = entered.incrementAndGet() <= 2
      if (racing) barrier1.await(60, java.util.concurrent.TimeUnit.SECONDS)
      lock.synchronized { val o = fsys.create(dst, true); o.write(body); o.close() }
      if (racing) barrier2.await(60, java.util.concurrent.TimeUnit.SECONDS)
      if (dst.getName == "v00001.json") acks.incrementAndGet()
      true
    })
    val a = Seq((1L, "a")).toDF("id", "v")
    val b = Seq((2L, "b")).toDF("id", "v")
    import scala.concurrent._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val futs = Seq(
      Future(Sinks.Snapshots.commit(spark, a, path, 5, torn)),
      Future(Sinks.Snapshots.commit(spark, b, path, 5, torn)))
    val vs = futs.map(Await.result(_, duration.Duration(180, "s")))
    pool.shutdown()
    assert(acks.get() == 2,
      "test rig: both writers must have been acknowledged for v1 — the two-winners race was not exercised")
    assert(vs.toSet == Set(1, 2),
      s"the read-back verify must demote exactly one acknowledged winner to a retry, got $vs")
    assert(Sinks.Snapshots.versions(spark, path) == Seq(1, 2))
    val all = Sinks.Snapshots.readLog(spark, path).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(all == Seq((1L, "a"), (2L, "b")),
      s"no commit may be lost or duplicated through the torn-rename race, got $all")
    // each version's manifest must name a data dir that actually holds
    // that version's rows (no version pointing at deleted loser data)
    assert(Sinks.Snapshots.read(spark, path, Some(1)).count() == 1)
    assert(Sinks.Snapshots.read(spark, path, Some(2)).count() == 1)
  }

  test("a commit acknowledged by the store but never visible fails loudly, never half-commits") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_snap_liar_").toString + "/t"
    // a store that acknowledges the publish but drops it (torn rename
    // stranding a half-copied manifest): the verify read-back finds no
    // manifest, treats the attempt as lost, and after maxAttempts the
    // commit fails LOUDLY — with no committed version and no manifest
    // pointing at anything
    val liar = new Sinks.Snapshots.ConditionalPutCommitter((_, _) => true)
    val e = intercept[java.io.IOException] {
      Sinks.Snapshots.commit(spark, Seq((1L, "a")).toDF("id", "v"), path, 2, liar)
    }
    assert(e.getMessage.contains("lost the version race"))
    assert(Sinks.Snapshots.versions(spark, path).isEmpty,
      "no version may exist after an unverifiable commit")
  }

  test("row-level MERGE into the snapshot table: upsert composes with commit + time travel") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_snap_merge_").toString + "/t"
    val v1 = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("id", "v", "x")
    assert(Sinks.Snapshots.commit(spark, v1, path) == 1)
    // delta: update id=2, insert id=4
    val delta = Seq((2L, "b2", 25.0), (4L, "d", 40.0)).toDF("id", "v", "x")
    assert(Sinks.Snapshots.merge(spark, path, delta, Seq("id")) == 2)
    val merged = Sinks.Snapshots.read(spark, path).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(merged == Seq((1L, "a", 10.0), (2L, "b2", 25.0), (3L, "c", 30.0), (4L, "d", 40.0)),
      s"merge must replace matched keys and insert unmatched, got $merged")
    // the pre-merge version still time-travels, unchanged
    val before = Sinks.Snapshots.read(spark, path, Some(1)).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(before == Seq((1L, "a"), (2L, "b"), (3L, "c")),
      "the pre-merge snapshot must be immutable under the merge")
    // a second merge stacks on the first (reads the new tip)
    assert(Sinks.Snapshots.merge(spark, path, Seq((1L, "a3", 11.0)).toDF("id", "v", "x"),
      Seq("id")) == 3)
    assert(Sinks.Snapshots.read(spark, path).filter($"id" === 1L)
      .select("v").as[String].head() == "a3")
    assert(Sinks.Snapshots.read(spark, path, Some(2)).filter($"id" === 1L)
      .select("v").as[String].head() == "a",
      "each merge is its own immutable version")
    // a CONCURRENT writer lands v4 between merges — the next merge must
    // stack on THAT tip (read-latest semantics), and an expired vacuum
    // then reclaims every superseded version's data in one sweep
    assert(Sinks.Snapshots.commit(spark,
      Sinks.Snapshots.read(spark, path)
        .unionByName(Seq((9L, "z", 90.0)).toDF("id", "v", "x")), path) == 4)
    assert(Sinks.Snapshots.merge(spark, path, Seq((5L, "e", 50.0)).toDF("id", "v", "x"),
      Seq("id")) == 5, "merge must land on the concurrent writer's tip + 1")
    assert(Sinks.Snapshots.read(spark, path).count() == 6,
      "the merge must have read the concurrent writer's rows (1,2,3,4,9 + inserted 5)")
    Sinks.Snapshots.vacuum(spark, path, keepLast = 1, retainMs = 0L)
    assert(Sinks.Snapshots.versions(spark, path) == Seq(5))
    val dirs = new java.io.File(s"$path/data").listFiles().map(_.getName).toSet
    assert(dirs.size == 1 && dirs.head.startsWith("v00005"),
      s"vacuum must reclaim all superseded data dirs, left: $dirs")
    assert(Sinks.Snapshots.read(spark, path).count() == 6)
  }

  test("corrupt-file tolerance: ignoreCorruptFiles reads around a damaged input") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_corrupt")
    val good = Tables.nation(spark, sf)
    good.write.mode("overwrite").parquet(dir.toString)
    // drop a non-parquet garbage file into the table directory — the
    // single-bad-file-in-a-million-files reality of a 100 TB lake
    java.nio.file.Files.write(dir.resolve("part-junk.parquet"),
      "this is not parquet".getBytes)
    intercept[Exception] { // default: fail loudly (no silent data loss)
      spark.read.parquet(dir.toString).count()
    }
    val prev = spark.conf.get("spark.sql.files.ignoreCorruptFiles", "false")
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try {
      // opt-in: the good rows all survive, the bad file is skipped
      assert(spark.read.parquet(dir.toString).count() == good.count())
    } finally spark.conf.set("spark.sql.files.ignoreCorruptFiles", prev)
  }

  test("parquet compression codecs: zstd and snappy both round-trip; codec is per-write") {
    val li = Tables.lineitem(spark, sf)
    val dirs = Seq("zstd", "snappy", "none").map { codec =>
      val dir = java.nio.file.Files.createTempDirectory(s"graft_$codec").toString
      li.write.mode("overwrite").option("compression", codec).parquet(dir)
      codec -> dir
    }
    for ((codec, dir) <- dirs)
      assert(spark.read.parquet(dir).count() == li.count(), s"$codec round-trip")
    def bytes(dir: String): Long =
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val sizes = dirs.toMap.view.mapValues(bytes).toMap
    assert(sizes("zstd") < sizes("none") && sizes("snappy") < sizes("none"),
      s"compression must shrink files: $sizes")
  }

  /** The codec of every column chunk of every parquet file in `dir`,
    * read from the footers.
    */
  private def chunkCodecs(dir: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).toSet.flatMap {
      (f: java.io.File) =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.getPath), conf))
        try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec.name)).toSet
        finally r.close()
    }
  }

  test("codec policy: engine default zstd over a snappy version; time travel, compact, vacuum") {
    val key = "spark.sql.parquet.compression.codec"
    assert(graft.GraftSession.conf(key) == "zstd" && spark.conf.get(key) == "zstd")
    val path = Files.createTempDirectory("graft_codec_").toString + "/t"
    val docs = Tables.documents(spark, sf).select("doc_id", "text", "lang")
    val v1rows = docs.filter(col("doc_id") % 2 === 0).repartition(4)
    val v2rows = docs.repartition(4)
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    spark.conf.set(key, "snappy")
    try assert(Sinks.Snapshots.commit(spark, v1rows, path) == 1)
    finally spark.conf.set(key, graft.GraftSession.conf(key))
    assert(Sinks.Snapshots.commit(spark, v2rows, path) == 2)
    val Array(v1dir, v2dir) = new java.io.File(s"$path/data").listFiles()
      .map(_.getPath).sorted
    assert(chunkCodecs(v1dir) == Set("SNAPPY"))
    assert(chunkCodecs(v2dir) == Set("ZSTD"), "a commit under the engine default writes zstd pages")
    // both versions read; time travel resolves the snappy one
    val (want1, want2) = (rows(v1rows), rows(v2rows))
    assert(rows(Sinks.Snapshots.read(spark, path, Some(1))) == want1)
    assert(rows(Sinks.Snapshots.read(spark, path)) == want2)
    assert(Sinks.Snapshots.readLog(spark, path).count() == want1.size + want2.size)
    // compaction rewrites the snappy version under the engine default
    for (dir <- Seq(v1dir, v2dir)) {
      val (before, after) = Sinks.compact(spark, dir, targetBytes = 512L << 20)
      assert(before == 4 && after == 1, s"$dir: $before -> $after files")
      assert(chunkCodecs(dir) == Set("ZSTD"))
    }
    assert(rows(Sinks.Snapshots.read(spark, path, Some(1))) == want1)
    assert(rows(Sinks.Snapshots.read(spark, path, Some(2))) == want2)
    Sinks.Snapshots.vacuum(spark, path, keepLast = 1)
    assert(Sinks.Snapshots.versions(spark, path) == Seq(2))
    assert(rows(Sinks.Snapshots.read(spark, path)) == want2)
  }

  test("file-size governance: maxRecordsPerFile bounds every output file") {
    // the write-side sibling of small-file compaction: a 100 TB table
    // must bound file sizes at WRITE time (downstream split planning,
    // object-store part limits) — maxRecordsPerFile rolls a partition's
    // writer to a new file every N records without an extra shuffle
    val li = Tables.lineitem(spark, sf).coalesce(2)
    val total = li.count()
    val dir = java.nio.file.Files.createTempDirectory("graft_maxrec").toString
    val cap = 500L
    li.write.mode("overwrite").option("maxRecordsPerFile", cap).parquet(dir)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString)
    assert(files.length >= math.ceil(total.toDouble / cap).toInt,
      s"expected at least ${total / cap} files, got ${files.length}")
    for (f <- files)
      assert(spark.read.parquet(f).count() <= cap, s"$f exceeds the record cap")
    assert(spark.read.parquet(dir).count() == total, "governed write loses nothing")
  }

  test("CBO: ANALYZE statistics drive static broadcast selection (no AQE, no hints)") {
    // catalog stats are the PRE-RUNTIME half of the size story: with
    // AQE off and no broadcast hint, the planner can only pick a
    // broadcast join if ANALYZE gave it a sizeInBytes for the dim table
    spark.sql("DROP TABLE IF EXISTS cbo_nation")
    // the in-memory catalog forgets tables across JVMs but their
    // warehouse directories persist — clear the location too
    val loc = java.nio.file.Paths.get("spark-warehouse", "cbo_nation")
    if (java.nio.file.Files.exists(loc)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    Tables.nation(spark, sf).write.mode("overwrite").saveAsTable("cbo_nation")
    spark.sql("ANALYZE TABLE cbo_nation COMPUTE STATISTICS")
    val stats = spark.sql("DESCRIBE EXTENDED cbo_nation").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(stats.get("Statistics").exists(_.contains("bytes")), s"ANALYZE left no stats: $stats")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val joined = Tables.customer(spark, sf)
        .join(spark.table("cbo_nation"), col("c_nationkey") === col("n_nationkey"))
      val plan = joined.queryExecution.executedPlan.toString()
      assert(plan.contains("BroadcastHashJoin"),
        s"stats-known small dim must broadcast without hints:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("file provenance: per-file rollup tiles a multi-file table exactly") {
    // write documents as 4 files → the per-file rollup must partition
    // the table (Σ rows = table rows, min-of-mins/max-of-maxes = global
    // extrema, one row per physical file, no file empty) — the layout-
    // DEPENDENT granularity behind the layout-independent gate query
    val dir = Files.createTempDirectory("graft_prov_").toString
    val docs = Tables.documents(spark, sf)
    docs.repartition(4).write.mode("overwrite").parquet(dir)
    val reread = spark.read.parquet(dir)
    val perFile = Relational.fileProvenance(reread, col("doc_id")).collect()
    val nFiles = Files.list(java.nio.file.Paths.get(dir)).toArray
      .map(_.toString).count(_.endsWith(".parquet"))
    assert(perFile.length == nFiles && nFiles == 4,
      s"expected one rollup row per file (4), got ${perFile.length} rows / $nFiles files")
    assert(perFile.map(_.getAs[Long]("n_rows")).sum == docs.count())
    assert(perFile.forall(_.getAs[Long]("n_rows") > 0))
    assert(perFile.map(_.getAs[Long]("min_id")).min ==
      docs.agg(min("doc_id")).head.getLong(0))
    assert(perFile.map(_.getAs[Long]("max_id")).max ==
      docs.agg(max("doc_id")).head.getLong(0))
  }
}
