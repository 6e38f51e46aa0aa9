package graft.ops

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}

/** Storage-layout sinks — where 100 TB performance is won before any
  * query runs:
  *
  *  - `partitionedParquet`: hive-style directory partitioning. Reads
  *    that filter on the partition column never open non-matching files
  *    (partition pruning: `PartitionFilters` in the scan, asserted in
  *    SinksSpec).
  *  - `bucketedTable`: pre-shuffles data into a fixed number of buckets
  *    on the join/agg key at WRITE time. Two tables bucketed on the same
  *    key with the same bucket count join with NO exchange on either
  *    side — the shuffle is paid once when writing, not on every query.
  *  - plain parquet: one file per task, no driver funnel.
  */
object Sinks {

  def partitionedParquet(df: DataFrame, path: String, partitionCols: String*): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed + sorted table registered in the session catalog at an
    * explicit path (bucket metadata lives in the catalog — this is the
    * one sink that must go through `saveAsTable`).
    */
  def bucketedTable(df: DataFrame, table: String, path: String,
                    buckets: Int, keyCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .format("parquet")
      .bucketBy(buckets, keyCols.head, keyCols.tail: _*)
      .sortBy(keyCols.head, keyCols.tail: _*)
      .option("path", path)
      .saveAsTable(table)

  def parquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** Range-clustered sorted write: rows range-partitioned on `byCol`
    * into `files` output files, sorted within each. Files end up with
    * NON-OVERLAPPING min/max footer stats on `byCol`, so a filtered
    * read skips whole files/row-groups via parquet predicate pushdown —
    * the sort-key analogue of hive partitioning, without the
    * small-partition explosion (the right layout for high-cardinality
    * or continuous cluster keys like timestamps at 100 TB).
    */
  def rangeSortedParquet(df: DataFrame, path: String, byCol: String, files: Int): Unit =
    df.repartitionByRange(files, org.apache.spark.sql.functions.col(byCol))
      .sortWithinPartitions(byCol)
      .write.mode("overwrite").parquet(path)

  /** Small-file compaction — the maintenance op every long-lived table
    * needs at 100 TB (streaming sinks and fine-grained partition writes
    * accumulate thousands of KB-scale files; scan cost then goes to
    * file-open/footer overhead and the listing, not bytes). Bin-packs
    * the directory's parquet files into ceil(totalBytes/targetBytes)
    * outputs via `coalesce` (partition MERGE — no shuffle, no
    * re-encoding of the data's order beyond file concatenation), writes
    * to a temp directory, then swaps via two renames — a crashed
    * compaction leaves the ORIGINAL or the NEW directory intact, never
    * a mix, and readers holding the old file handles finish their scan
    * (POSIX/HDFS rename semantics). No-ops (and does NOT rewrite) when
    * the directory is already at or below the target file count.
    * Returns (filesBefore, filesAfter).
    */
  def compact(spark: SparkSession, path: String,
              targetBytes: Long = 128L << 20): (Int, Int) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp0 = new org.apache.hadoop.fs.Path(path + "__compact_tmp")
    val bak0 = new org.apache.hadoop.fs.Path(path + "__compact_old")
    // crash recovery BEFORE anything else: a run that died between the
    // two renames left the data staged at __compact_old and no table
    // path — finish the rollback; stale staging from any other crash
    // point is residue over a complete table and is simply cleared
    // (without this, the stale bak path blocks every later rename)
    if (!fs.exists(p) && fs.exists(bak0)) {
      if (!fs.rename(bak0, p))
        throw new java.io.IOException(
          s"compact: found crash residue $bak0 but cannot restore it to $path")
    }
    if (fs.exists(tmp0)) fs.delete(tmp0, true)
    if (fs.exists(bak0)) fs.delete(bak0, true)
    val files = fs.listStatus(p)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val totalBytes = files.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    if (nOut >= files.length) return (files.length, files.length)
    val tmp = tmp0
    Tables.parquet(spark, path).coalesce(nOut)
      .write.mode("overwrite").parquet(tmp.toString)
    val bak = bak0
    if (!fs.rename(p, bak))
      throw new java.io.IOException(s"compact: cannot stage $path aside")
    if (!fs.rename(tmp, p)) { // roll back: the original directory wins
      fs.rename(bak, p)
      throw new java.io.IOException(s"compact: cannot swap in $tmp")
    }
    fs.delete(bak, true)
    val after = fs.listStatus(p)
      .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    (files.length, after)
  }

  /** Manifest-based SNAPSHOT TABLE over immutable parquet — the minimal
    * honest slice of the lakehouse commit protocol (Delta/Iceberg
    * class) that plain directories can't give: versioned atomic
    * commits, time-travel reads, and safe vacuum.
    *
    * Layout: `path/data/v<NNNNN>-<uuid>/` holds each commit's immutable
    * parquet; `path/_manifests/v<NNNNN>.json` names the data directory.
    * The COMMIT is one atomic NO-OVERWRITE manifest rename — the
    * manifest file doubles as an OPTIMISTIC CONCURRENCY token: two
    * writers racing to version N+1 cannot both win; the loser re-reads
    * the latest version and retries against N+2. Readers resolve a
    * version (or latest) through its manifest only, so a half-written
    * data directory (crash before commit) is invisible garbage, never a
    * torn read — the same reader/writer isolation argument as the
    * compaction swap, but with history.
    *
    * FS CONTRACT: the token is only a token where the rename is atomic
    * and refuses an existing destination. `FileSystem.rename` silently
    * REPLACES an existing file on POSIX local filesystems (rename(2)
    * semantics), so commits go through `FileContext.rename(..,
    * Options.Rename.NONE)`, which fails on an existing destination on
    * every Hadoop filesystem — and each win is re-verified by reading
    * the manifest back and checking it names this writer's data
    * directory (closes the residual check-then-rename window on stores
    * whose rename is not a single atomic op). On S3A-class object
    * stores rename is copy+delete and NOT atomic — there the commit
    * goes through [[ConditionalPutCommitter]] instead: one conditional
    * PUT (`If-None-Match: *` / `ifGenerationMatch=0` / ETag) carries
    * the same publish-if-absent semantics server-side, no rename
    * anywhere. The primitive is pluggable per commit
    * ([[ManifestCommitter]]); whichever is used, the verify step turns
    * a lost race on a misbehaving store into a loud retry instead of
    * silent corruption.
    *
    * What this deliberately does NOT implement (and says so): schema
    * evolution enforcement and multi-table transactions. Row-level
    * MERGE composes: [[merge]] = time-travel read → [[graft.ops.Scale.upsert]]
    * → next snapshot commit (gated in SinksSpec).
    */
  object Snapshots {
    private def fs(spark: SparkSession, path: String) = {
      val p = new org.apache.hadoop.fs.Path(path)
      (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    }

    private def manifestDir(path: String) =
      new org.apache.hadoop.fs.Path(path + "/_manifests")

    // any digit count: %05d pads to five up to 99999 and then grows —
    // a fixed 5-digit parse would freeze versions() at v99999 forever
    private val ManifestName = """v(\d+)\.json""".r

    private def versionOf(name: String): Option[Int] = name match {
      case ManifestName(v) => Some(v.toInt)
      case _               => None
    }

    /** Atomic no-overwrite rename: the rename-store commit primitive.
      * `FileContext` (unlike `FileSystem.rename`, which silently
      * replaces an existing FILE on POSIX local filesystems) refuses an
      * existing destination on every Hadoop FS. Returns false on
      * "destination exists" — the lost-race signal — and rethrows
      * anything else.
      */
    private[ops] def renameNoOverwrite(
        spark: SparkSession,
        src: org.apache.hadoop.fs.Path,
        dst: org.apache.hadoop.fs.Path): Boolean = {
      val conf = spark.sparkContext.hadoopConfiguration
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        src.getFileSystem(conf).getUri, conf)
      try {
        fc.rename(src, dst, org.apache.hadoop.fs.Options.Rename.NONE)
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.nio.file.FileAlreadyExistsException        => false
        case e: java.io.IOException
            if e.getMessage != null && e.getMessage.contains("already exists") =>
          false
      }
    }

    /** The PLUGGABLE commit primitive behind [[commit]]: publish
      * manifest `body` at `dst` iff nothing is committed there, exactly
      * once across racing writers. The store arbitrates — via an atomic
      * no-overwrite RENAME ([[RenameCommitter]]: HDFS, ABFS, GCS-hns,
      * local) or a CONDITIONAL PUT ([[ConditionalPutCommitter]]: S3
      * `If-None-Match: *`, GCS `ifGenerationMatch=0`, ABFS ETag) — and
      * the committer maps the store's answer to `true` = this writer
      * won, `false` = destination already existed (lost the race).
      * Anything else must throw. A committer whose store call is NOT
      * atomic (S3A rename = copy+delete) can return two winners; the
      * manifest read-back in [[commit]] then demotes the loser to a
      * retry, so the failure mode is progress loss, never a torn table —
      * but exactly-once still requires a genuinely atomic primitive.
      */
    trait ManifestCommitter {
      def publish(spark: SparkSession, body: Array[Byte],
                  dst: org.apache.hadoop.fs.Path): Boolean
    }

    /** Default committer for atomic-rename stores: write a uniquely-named
      * dot-temp next to the destination, then one
      * `FileContext.rename(.., Rename.NONE)`. The temp name carries a
      * UUID so two writers racing the same version never share (and
      * never clobber) a temp file; the loser's temp is removed.
      */
    object RenameCommitter extends ManifestCommitter {
      def publish(spark: SparkSession, body: Array[Byte],
                  dst: org.apache.hadoop.fs.Path): Boolean = {
        val f = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val tmp = new org.apache.hadoop.fs.Path(dst.getParent,
          s".${dst.getName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
        val out = f.create(tmp, true)
        out.write(body); out.close()
        val won = renameNoOverwrite(spark, tmp, dst)
        if (!won && f.exists(tmp)) f.delete(tmp, false)
        won
      }
    }

    /** Conditional-put committer for object stores WITHOUT atomic
      * rename: one PUT carrying the store's if-absent precondition — no
      * temp file, no rename anywhere. Each store spells the precondition
      * differently (S3 `If-None-Match: *`, GCS `ifGenerationMatch=0`,
      * ABFS `If-None-Match` on the ETag), so the store call is injected:
      * `putIfAbsent(dst, body)` must atomically create-or-refuse
      * SERVER-SIDE and return false iff the destination already existed.
      * This is the seam that brings S3-class stores into the snapshot
      * table's contract — the surrounding commit protocol (version
      * discovery, read-back verify, loser cleanup, retry) is identical.
      */
    final class ConditionalPutCommitter(
        putIfAbsent: (org.apache.hadoop.fs.Path, Array[Byte]) => Boolean)
      extends ManifestCommitter {
      def publish(spark: SparkSession, body: Array[Byte],
                  dst: org.apache.hadoop.fs.Path): Boolean =
        putIfAbsent(dst, body)
    }

    /** All committed versions, ascending. */
    def versions(spark: SparkSession, path: String): Seq[Int] = {
      val (f, _) = fs(spark, path)
      val md = manifestDir(path)
      if (!f.exists(md)) Seq.empty
      else f.listStatus(md).toSeq
        .flatMap(s => versionOf(s.getPath.getName)).sorted
    }

    /** Write `df` as the table's next snapshot; returns the committed
      * version. Retries on commit-token conflict (another writer won
      * the version) up to `maxAttempts`, re-reading the tip each time —
      * the data directory is per-attempt immutable garbage on loss,
      * reclaimed by [[vacuum]].
      */
    def commit(spark: SparkSession, df: DataFrame, path: String,
               maxAttempts: Int = 5): Int =
      commit(spark, df, path, maxAttempts, batchId = None)

    def commit(spark: SparkSession, df: DataFrame, path: String,
               maxAttempts: Int, committer: ManifestCommitter): Int =
      commit(spark, df, path, maxAttempts, batchId = None, committer)

    private def commit(spark: SparkSession, df: DataFrame, path: String,
                       maxAttempts: Int, batchId: Option[Long]): Int =
      commit(spark, df, path, maxAttempts, batchId, RenameCommitter)

    private def commit(spark: SparkSession, df: DataFrame, path: String,
                       maxAttempts: Int, batchId: Option[Long],
                       committer: ManifestCommitter): Int = {
      val (f, _) = fs(spark, path)
      val md = manifestDir(path)
      f.mkdirs(md)
      var attempt = 0
      while (attempt < maxAttempts) {
        attempt += 1
        val next = versions(spark, path).lastOption.getOrElse(0) + 1
        val dataDir = f"data/v$next%05d-${java.util.UUID.randomUUID().toString.take(8)}"
        df.write.mode("errorifexists").parquet(s"$path/$dataDir")
        val fin = new org.apache.hadoop.fs.Path(md, f"v$next%05d.json")
        val batchField = batchId.map(b => s""""batch_id": $b, """).getOrElse("")
        val body = s"""{"version": $next, "data_dir": "$dataDir", $batchField""" +
          s""""committed_at_ms": ${System.currentTimeMillis()}}"""
        // THE commit: one atomic publish-if-absent (rename or conditional
        // put, per the committer); an existing target means another
        // writer took this version. The win is VERIFIED by reading the
        // manifest back — on a store whose primitive is not one atomic
        // op, both racers can believe they published; only the one whose
        // data_dir the manifest names actually committed.
        //
        // A verify READ failure is NOT a lost race: if the publish already
        // landed, treating a transient IOException as a loss would delete
        // the data directory a committed manifest now references (a
        // permanently-broken version) and re-commit the rows as next+1
        // (duplicates in readLog). So the verify retries, and if it never
        // resolves the commit FAILS LOUDLY with the data dir retained.
        if (committer.publish(spark, body.getBytes("UTF-8"), fin)) {
          var verified: Option[Boolean] = None
          var verifyTries = 0
          while (verified.isEmpty && verifyTries < 5) {
            verifyTries += 1
            try verified = Some(dataDirOf(spark, path, next) == dataDir)
            catch {
              // manifest absent after a "successful" rename = torn rename
              // on a non-atomic store; no manifest names this data dir,
              // so the lost-race cleanup below is safe
              case _: java.util.NoSuchElementException => verified = Some(false)
              case _: java.io.IOException => Thread.sleep(50L * verifyTries)
            }
          }
          verified match {
            case Some(true) => return next
            case Some(false) => // genuinely lost: fall through to cleanup
            case None => throw new java.io.IOException(
              s"snapshot v$next at $path: rename succeeded but the manifest " +
                s"could not be read back after $verifyTries attempts — refusing " +
                s"to treat an unverifiable commit as a lost race (data dir " +
                s"$dataDir retained; inspect the manifest before retrying)")
          }
        }
        // lost the race: clean up this attempt and retry against the tip
        // (the committer already cleaned its own temp state)
        f.delete(new org.apache.hadoop.fs.Path(s"$path/$dataDir"), true)
      }
      throw new java.io.IOException(
        s"snapshot commit lost the version race $maxAttempts times at $path")
    }

    private def dataDirOf(spark: SparkSession, path: String, version: Int): String = {
      val (f, _) = fs(spark, path)
      val mf = new org.apache.hadoop.fs.Path(manifestDir(path), f"v$version%05d.json")
      if (!f.exists(mf))
        throw new java.util.NoSuchElementException(s"no snapshot v$version at $path")
      val in = f.open(mf)
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      var n = in.read(buf)
      while (n > 0) { bos.write(buf, 0, n); n = in.read(buf) }
      in.close()
      val body = new String(bos.toByteArray, "UTF-8")
      val m = """"data_dir":\s*"([^"]+)"""".r.findFirstMatchIn(body)
        .getOrElse(throw new java.io.IOException(s"corrupt manifest $mf"))
      m.group(1)
    }

    private def manifestBody(spark: SparkSession, path: String, version: Int): String = {
      val (f, _) = fs(spark, path)
      val mf = new org.apache.hadoop.fs.Path(manifestDir(path), f"v$version%05d.json")
      val in = f.open(mf)
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      var n = in.read(buf)
      while (n > 0) { bos.write(buf, 0, n); n = in.read(buf) }
      in.close()
      new String(bos.toByteArray, "UTF-8")
    }

    /** The batch id of the most recent STREAMING commit — found by
      * scanning manifests backward from the tip, so plain snapshots
      * (upsert output, [[merge]], compaction rewrites) interleaved into
      * the same table cannot mask it: before this scanned backward, any
      * non-batch tip made a replayed micro-batch re-commit and the
      * exactly-once guarantee silently degraded to at-least-once.
      * Batch ids are monotone per streaming query, so the first one
      * found walking backward IS the max.
      */
    def latestBatchId(spark: SparkSession, path: String): Option[Long] = {
      val re = """"batch_id":\s*(\d+)""".r
      versions(spark, path).reverseIterator
        .map(v => re.findFirstMatchIn(manifestBody(spark, path, v)).map(_.group(1).toLong))
        .collectFirst { case Some(b) => b }
    }

    /** EXACTLY-ONCE streaming sink body for `foreachBatch`: commit the
      * micro-batch as the table's next snapshot, stamped with its
      * batchId — a REPLAYED batch (failure recovery re-delivers the
      * same id) is detected against the tip's recorded batch_id and
      * skipped, so the at-least-once delivery of foreachBatch becomes
      * an exactly-once table. Returns the committed version, or None on
      * an idempotent skip. Streaming commits are APPEND-LOG usage: each
      * version holds one micro-batch; [[readLog]] unions the live
      * versions into the table.
      *
      * CONTRACT: one streaming query per table. The id check reads the
      * log, then commits — the version token serializes the commits
      * themselves, but TWO streaming writers replaying the same batch id
      * concurrently could both pass the read before either lands. Plain
      * snapshot commits may interleave freely (the backward-scanning
      * [[latestBatchId]] sees through them).
      */
    def commitBatch(spark: SparkSession, df: DataFrame, path: String,
                    batchId: Long): Option[Int] =
      if (latestBatchId(spark, path).exists(_ >= batchId)) None
      else Some(commit(spark, df, path, maxAttempts = 5, batchId = Some(batchId)))

    /** Append-log read: the UNION of all live snapshots (the streaming
      * [[commitBatch]] pattern, where each version is one micro-batch).
      */
    def readLog(spark: SparkSession, path: String): DataFrame = {
      val vs = versions(spark, path)
      if (vs.isEmpty)
        throw new java.util.NoSuchElementException(s"no snapshots at $path")
      Tables.parquet(spark, vs.map(v => s"$path/${dataDirOf(spark, path, v)}"): _*)
    }

    /** Time-travel read: `version = None` reads the latest snapshot. */
    def read(spark: SparkSession, path: String, version: Option[Int] = None): DataFrame = {
      val v = version.orElse(versions(spark, path).lastOption)
        .getOrElse(throw new java.util.NoSuchElementException(s"no snapshots at $path"))
      Tables.parquet(spark, s"$path/${dataDirOf(spark, path, v)}")
    }

    /** Drop all but the newest `keepLast` snapshots: their manifests go
      * first (readers can no longer resolve them), then their data —
      * plus loser-writer / crashed-commit garbage, but ONLY past the
      * `retainMs` grace window (Delta-style): an IN-FLIGHT commit (data
      * written, manifest not yet renamed) is indistinguishable from
      * crash garbage, so without the window a concurrent vacuum could
      * delete a commit's data right before its manifest lands.
      * Explicitly-dropped versions reclaim immediately (their manifests
      * were just removed by this call — they were committed, not
      * in-flight).
      */
    def vacuum(spark: SparkSession, path: String, keepLast: Int,
               retainMs: Long = 15L * 60 * 1000): Unit = {
      require(keepLast >= 1, "vacuum must keep at least the current snapshot")
      val (f, _) = fs(spark, path)
      val all = versions(spark, path)
      val drop = all.dropRight(keepLast)
      val dropped = drop.map(v => "data/" + dataDirOf(spark, path, v).stripPrefix("data/")).toSet
      drop.foreach { v =>
        f.delete(new org.apache.hadoop.fs.Path(manifestDir(path), f"v$v%05d.json"), false)
      }
      val live = versions(spark, path).map(dataDirOf(spark, path, _)).toSet
      val dataRoot = new org.apache.hadoop.fs.Path(path + "/data")
      val cutoff = System.currentTimeMillis() - retainMs
      if (f.exists(dataRoot)) f.listStatus(dataRoot).foreach { st =>
        val name = "data/" + st.getPath.getName
        if (!live.contains(name) &&
            (dropped.contains(name) || st.getModificationTime < cutoff))
          f.delete(st.getPath, true)
      }
    }

    /** Row-level MERGE as snapshot composition: time-travel read the
      * current snapshot, [[graft.ops.Scale.upsert]] the delta into it
      * (matched keys replaced, unmatched inserted), commit the result as
      * the next version. History stays immutable — both the pre- and
      * post-merge versions time-travel. Returns the committed version.
      */
    def merge(spark: SparkSession, path: String, delta: DataFrame,
              keys: Seq[String]): Int =
      commit(spark, Scale.upsert(read(spark, path), delta, keys), path)

    /** name → snapshot path bindings for the SQL MERGE text form. */
    private val sqlTables = new java.util.concurrent.ConcurrentHashMap[String, String]()

    /** Bind a SQL-addressable name to a snapshot-table path, so a
      * migrating user's `MERGE INTO name ...` statement works verbatim
      * through [[mergeSql]].
      */
    def registerTable(name: String, path: String): Unit =
      sqlTables.put(name.toLowerCase(java.util.Locale.ROOT), path)

    /** SQL `MERGE INTO` text form over the snapshot tier. Spark's
      * parser accepts MERGE syntax for any statement but executes it
      * only against v2 catalog tables; this routes the statement the
      * migrating user actually types to the CDC fold instead — a
      * parse-level rewrite using Spark's OWN parser (no regex SQL
      * mangling), so aliasing/quoting/case behave exactly as Spark's
      * grammar defines. Supported shapes (the statements warehouse
      * migration guides and Debezium MERGE consumers actually emit):
      *
      * {{{
      * MERGE INTO tgt [AS] t USING src_view [AS] s
      * ON t.k1 = s.k1 [AND t.k2 = s.k2 ...]
      * WHEN MATCHED [AND cond] THEN UPDATE SET * | UPDATE SET c = expr, ... | DELETE
      * WHEN NOT MATCHED [AND cond] THEN INSERT * | INSERT (cols) VALUES (exprs)
      * }}}
      *
      * Any number of WHEN clauses, evaluated in statement order with
      * first-true-fires semantics (the SQL standard); a matched row
      * firing no clause is left untouched. Execution routes through
      * the same fold [[applyChangelogBatch]] /
      * [[graft.ops.Relational.q_cdc_apply]] own: clauses classify each
      * source row as U/D/I, deletes anti-join the snapshot, upserts
      * re-add — one delta-bounded join against the target, never a
      * rewrite-by-hand of unmatched rows. Standard MERGE cardinality
      * is enforced: two source rows matching one target row fail
      * loudly (a silent last-writer pick would hide a bad staging
      * dedup). `tgt` must be bound via [[registerTable]]; the source
      * must be a (temp) view name — the standard staging-table
      * pattern. Still loudly rejected: NOT MATCHED BY SOURCE clauses,
      * non-equi ON predicates, ON conjuncts that do not span target
      * and source (`ON t.k = t.k` is a typo, not a key-merge), and
      * SET assignments to a merge key. Returns the committed snapshot
      * version.
      */
    def mergeSql(spark: SparkSession, sql: String): Int = {
      import org.apache.spark.sql.GraftSqlBridge
      import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
      import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression}
      import org.apache.spark.sql.catalyst.plans.logical.{DeleteAction, InsertAction, InsertStarAction, LogicalPlan, MergeIntoTable, SubqueryAlias, UpdateAction, UpdateStarAction}
      import org.apache.spark.sql.functions.{col, lit, when}
      import org.apache.spark.sql.Column
      val supported = "supported forms: MERGE INTO t USING s ON t.k = s.k [AND ...] " +
        "WHEN MATCHED [AND cond] THEN UPDATE SET * | UPDATE SET c = expr, ... | DELETE " +
        "WHEN NOT MATCHED [AND cond] THEN INSERT * | INSERT (cols) VALUES (exprs)"
      val m = spark.sessionState.sqlParser.parsePlan(sql) match {
        case m: MergeIntoTable => m
        case other => throw new IllegalArgumentException(
          s"not a MERGE statement (parsed ${other.nodeName}); $supported")
      }
      def stripAlias(p: LogicalPlan): (Option[String], LogicalPlan) = p match {
        case SubqueryAlias(id, child) => (Some(id.name), stripAlias(child)._2)
        case other => (None, other)
      }
      val (targetAlias, targetRel) = stripAlias(m.targetTable)
      val targetName = targetRel match {
        case r: UnresolvedRelation => r.multipartIdentifier.mkString(".")
        case other => throw new IllegalArgumentException(
          s"MERGE target must be a table name, got ${other.nodeName}; $supported")
      }
      val path = Option(sqlTables.get(targetName.toLowerCase(java.util.Locale.ROOT)))
        .getOrElse(throw new IllegalArgumentException(
          s"'$targetName' is not a registered snapshot table — bind it first " +
            s"with Snapshots.registerTable(\"$targetName\", path)"))
      val (sourceAlias, sourceRel) = stripAlias(m.sourceTable)
      val sourceName = sourceRel match {
        case r: UnresolvedRelation => r.multipartIdentifier.mkString(".")
        case other => throw new IllegalArgumentException(
          "MERGE source must be a (temp) view name — stage a subquery as " +
            s"a view first (got ${other.nodeName}); $supported")
      }
      val source = spark.table(sourceName)
      val target = read(spark, path)
      if (m.notMatchedBySourceActions.nonEmpty)
        throw new IllegalArgumentException(
          s"WHEN NOT MATCHED BY SOURCE is not supported; $supported")

      // ---- relation-side resolution ------------------------------------
      // an explicit alias HIDES the base name (standard SQL scoping)
      def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
      val targetQuals: Set[String] = targetAlias.map(a => Set(lc(a)))
        .getOrElse(Set(lc(targetName), lc(targetName.split('.').last)))
      val sourceQuals: Set[String] = sourceAlias.map(a => Set(lc(a)))
        .getOrElse(Set(lc(sourceName), lc(sourceName.split('.').last)))
      val tCols = target.columns
      val sCols = source.columns
      // Some(true) = target side, Some(false) = source side, None = unqualified
      def sideOf(parts: Seq[String]): Option[Boolean] =
        if (parts.size <= 1) None
        else {
          val q = parts.dropRight(1).map(lc).mkString(".")
          if (targetQuals(q)) Some(true)
          else if (sourceQuals(q)) Some(false)
          else throw new IllegalArgumentException(
            s"'${parts.mkString(".")}' does not resolve to target " +
              s"'$targetName' or source '$sourceName'; $supported")
        }
      def canonical(cols: Array[String], name: String, rel: String): String =
        cols.find(_.equalsIgnoreCase(name)).getOrElse(
          throw new IllegalArgumentException(
            s"column '$name' not found in $rel; $supported"))

      // ---- ON keys: conjunction of equi-predicates SPANNING relations --
      def conjuncts(e: Expression): Seq[Expression] = e match {
        case And(l, r) => conjuncts(l) ++ conjuncts(r)
        case x => Seq(x)
      }
      val keys = conjuncts(m.mergeCondition).map {
        case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute)
            if a.nameParts.last.equalsIgnoreCase(b.nameParts.last) =>
          // reject ON t.k = t.k / ON s.k = s.k — a same-relation conjunct
          // is a typo that a last-name-part match would silently
          // reinterpret as a key-merge, contradicting fail-loudly
          (sideOf(a.nameParts), sideOf(b.nameParts)) match {
            case (Some(x), Some(y)) if x == y =>
              throw new IllegalArgumentException(
                s"ON conjunct references only one relation " +
                  s"(${a.nameParts.mkString(".")} = ${b.nameParts.mkString(".")})" +
                  s" — each equi-predicate must span target and source; $supported")
            case _ => ()
          }
          canonical(tCols, a.nameParts.last, s"target '$targetName'")
        case other => throw new IllegalArgumentException(
          s"ON must be a conjunction of t.k = s.k equi-predicates, got $other; $supported")
      }.distinct
      keys.foreach(k => canonical(sCols, k, s"source '$sourceName'"))

      // ---- clause-expression rewrite onto the prefixed join frame ------
      def rewrite(e: Expression, ctx: String, allowTarget: Boolean): Column = {
        val r = e.transformUp {
          case a: UnresolvedAttribute =>
            val last = a.nameParts.last
            val side = sideOf(a.nameParts).getOrElse {
              val inT = tCols.exists(_.equalsIgnoreCase(last))
              val inS = sCols.exists(_.equalsIgnoreCase(last))
              if (inT && inS && allowTarget) throw new IllegalArgumentException(
                s"ambiguous column '$last' in $ctx — qualify it with the " +
                  s"target or source alias; $supported")
              else if (inS) false
              else if (inT) true
              else throw new IllegalArgumentException(
                s"unknown column '$last' in $ctx; $supported")
            }
            if (side && !allowTarget) throw new IllegalArgumentException(
              s"$ctx may reference the source only — no target row exists " +
                s"for NOT MATCHED (got '${a.nameParts.mkString(".")}'); $supported")
            else if (side)
              UnresolvedAttribute(Seq("__t_" + canonical(tCols, last, targetName)))
            else
              UnresolvedAttribute(Seq("__s_" + canonical(sCols, last, sourceName)))
        }
        GraftSqlBridge.column(r)
      }

      // ---- classify clauses --------------------------------------------
      // an update's sets map: canonical target column -> value Column
      sealed trait MAct
      case class MUpdate(cond: Option[Column], sets: Map[String, Column]) extends MAct
      case class MDelete(cond: Option[Column]) extends MAct
      def starSets(ctx: String): Map[String, Column] =
        tCols.map(c => c -> col("__s_" + canonical(sCols, c,
          s"source '$sourceName' ($ctx copies every target column by name)"))).toMap
      val matchedClauses: Seq[MAct] = m.matchedActions.map {
        case UpdateStarAction(cond) =>
          MUpdate(cond.map(rewrite(_, "WHEN MATCHED condition", allowTarget = true)),
            starSets("UPDATE SET *"))
        case UpdateAction(cond, assignments, _) =>
          val sets = assignments.map { asg =>
            val keyName = asg.key match {
              case a: UnresolvedAttribute => a.nameParts.last
              case o => throw new IllegalArgumentException(
                s"SET target must be a column, got $o; $supported")
            }
            val ck = canonical(tCols, keyName, s"target '$targetName'")
            if (keys.exists(_.equalsIgnoreCase(ck)))
              throw new IllegalArgumentException(
                s"SET assigns merge key '$ck' — updating a key would re-identify " +
                  s"the row; merge on the new key instead; $supported")
            ck -> rewrite(asg.value, s"UPDATE SET $ck value", allowTarget = true)
          }.toMap
          MUpdate(cond.map(rewrite(_, "WHEN MATCHED condition", allowTarget = true)), sets)
        case DeleteAction(cond) =>
          MDelete(cond.map(rewrite(_, "WHEN MATCHED condition", allowTarget = true)))
        case other => throw new IllegalArgumentException(
          s"unsupported WHEN MATCHED clause $other; $supported")
      }
      val insertClauses: Seq[(Option[Column], Map[String, Column])] =
        m.notMatchedActions.map {
          case InsertStarAction(cond) =>
            (cond.map(rewrite(_, "WHEN NOT MATCHED condition", allowTarget = false)),
              starSets("INSERT *"))
          case InsertAction(cond, assignments) =>
            val sets = assignments.map { asg =>
              val keyName = asg.key match {
                case a: UnresolvedAttribute => a.nameParts.last
                case o => throw new IllegalArgumentException(
                  s"INSERT column must be a plain column, got $o; $supported")
              }
              canonical(tCols, keyName, s"target '$targetName'") ->
                rewrite(asg.value, "INSERT VALUES expression", allowTarget = false)
            }.toMap
            keys.foreach(k => if (!sets.contains(k))
              throw new IllegalArgumentException(
                s"INSERT column list must include merge key '$k' — a keyless " +
                  s"row cannot participate in future merges; $supported"))
            (cond.map(rewrite(_, "WHEN NOT MATCHED condition", allowTarget = false)), sets)
          case other => throw new IllegalArgumentException(
            s"unsupported WHEN NOT MATCHED clause $other; $supported")
        }

      // ---- evaluate: one delta-bounded join, CDC-fold commit ------------
      val tSchema = target.schema
      val tPref = target.select(tCols.map(c => col(c).as("__t_" + c)).toSeq: _*)
      val sPref = source.select(sCols.map(c =>
        col(canonical(sCols, c, sourceName)).as("__s_" + c)).toSeq: _*)
      val joinCond = keys.map(k =>
        col("__t_" + k) === col("__s_" + canonical(sCols, k, sourceName)))
        .reduce(_ && _)
      def firstTrue(conds: Seq[Option[Column]]): Column =
        conds.zipWithIndex.foldLeft(lit(null).cast("int")) {
          case (acc, (c, i)) =>
            // fold keeps FIRST-true priority by only filling still-null slots
            when(acc.isNotNull, acc).otherwise(when(c.getOrElse(lit(true)), lit(i)))
        }
      def outRow(df: org.apache.spark.sql.DataFrame,
                 valueFor: String => Column): org.apache.spark.sql.DataFrame =
        df.select(tCols.map(c =>
          valueFor(c).cast(tSchema(c).dataType).as(c)).toSeq: _*)

      val (dels, updates) = if (matchedClauses.isEmpty) (None, None) else {
        // delta-bounded: at most one row per (matched) source row
        val joined = tPref.join(sPref, joinCond, "inner").localCheckpoint()
        // standard MERGE cardinality: >1 source row hitting one target row
        // is an error, never a silent last-writer pick
        val dup = joined.groupBy(keys.map(k => col("__t_" + k)).toSeq: _*)
          .count().filter(col("count") > 1).limit(1).collect()
        if (dup.nonEmpty) throw new IllegalArgumentException(
          "MERGE cardinality violation: multiple source rows match target key " +
            dup.head.toSeq.dropRight(1).mkString("(", ",", ")") +
            " — dedup the staging view first")
        val fired = joined
          .withColumn("__clause", firstTrue(matchedClauses.map {
            case MUpdate(c, _) => c
            case MDelete(c) => c
          }))
          .filter(col("__clause").isNotNull)
        val delIdx = matchedClauses.zipWithIndex.collect { case (_: MDelete, i) => i }
        val isDel = if (delIdx.isEmpty) lit(false)
          else col("__clause").isin(delIdx.map(Integer.valueOf): _*)
        val d = if (delIdx.isEmpty) None
          else Some(fired.filter(isDel)
            .select(keys.map(k => col("__t_" + k).as(k)).toSeq: _*))
        val updIdx = matchedClauses.zipWithIndex.collect { case (_: MUpdate, i) => i }
        val u = if (updIdx.isEmpty) None else Some(outRow(
          fired.filter(!isDel),
          c => matchedClauses.zipWithIndex.foldLeft(col("__t_" + c)) {
            case (acc, (MUpdate(_, sets), i)) =>
              when(col("__clause") === i, sets.getOrElse(c, col("__t_" + c)))
                .otherwise(acc)
            case (acc, _) => acc
          }))
        (d, u)
      }
      val inserts = if (insertClauses.isEmpty) None else {
        val unmatched = sPref.join(
          tPref.select(keys.map(k => col("__t_" + k)).toSeq: _*),
          joinCond, "left_anti")
        val fired = unmatched
          .withColumn("__clause", firstTrue(insertClauses.map(_._1)))
          .filter(col("__clause").isNotNull)
        Some(outRow(fired,
          c => insertClauses.zipWithIndex.foldLeft(lit(null): Column) {
            case (acc, ((_, sets), i)) =>
              when(col("__clause") === i, sets.getOrElse(c, lit(null))).otherwise(acc)
          }))
      }
      val ups = (updates.toSeq ++ inserts.toSeq).reduceOption(_ unionByName _)
      val base = dels.map(d => target.join(d, keys, "left_anti")).getOrElse(target)
      val next = ups.map(u => Scale.upsert(base, u, keys)).getOrElse(base)
      commit(spark, next, path)
    }

    /** CDC changelog fold as an EXACTLY-ONCE streaming sink — the
      * Debezium-consumer composition [[merge]] (no deletes) and
      * [[commitBatch]] (append-only) don't cover: one micro-batch of
      * keyed I/U/D changes collapses to each key's LAST op within the
      * batch (by `seqCols`, descending, which must totally order —
      * shuffle arrival order must not decide), deletes anti-join the
      * current snapshot, inserts/updates upsert, and the result commits
      * under the micro-batch id so a replayed batch is a NO-OP (None).
      * The batch-side fold semantics are the oracled
      * [[graft.ops.Relational.q_cdc_apply]]; StreamingSpec pins the
      * streamed fold equal to the batch fold on the same changes.
      */
    def applyChangelogBatch(spark: SparkSession, path: String,
                            changes: DataFrame, keys: Seq[String],
                            opCol: String, seqCols: Seq[String],
                            batchId: Long): Option[Int] =
      if (latestBatchId(spark, path).exists(_ >= batchId)) None
      else {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions.{col, row_number}
        val w = Window.partitionBy(keys.map(col): _*)
          .orderBy(seqCols.map(col(_).desc): _*)
        val last = changes
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn").drop(seqCols: _*)
        val dels = last.filter(col(opCol) === "D").select(keys.map(col): _*)
        val ups = last.filter(col(opCol) =!= "D").drop(opCol)
        val next = Scale.upsert(
          read(spark, path).join(dels, keys, "left_anti"), ups, keys)
        Some(commit(spark, next, path, maxAttempts = 5, batchId = Some(batchId)))
      }
  }

  /** Z-order (Morton-curve) clustered write: interleave the bits of TWO
    * normalized sort keys and range-partition + sort on the combined
    * z-value. Each output file then covers a small RECTANGLE in
    * (c1, c2) space — its parquet footer min/max are tight on BOTH
    * dimensions, so filtered reads on EITHER key (or both) skip files.
    * A plain sort on c1 gives perfect c1-skipping but every file spans
    * the full c2 range; z-ordering trades a little of each for
    * two-dimensional skipping — the standard lakehouse layout for
    * two-key scan patterns at 100 TB. Keys are min/max normalized to
    * 16-bit ranks with one tiny pre-pass aggregate (two scalars
    * broadcast back; no global sort of raw keys).
    */
  def zOrderedParquet(df: DataFrame, path: String, c1: String, c2: String, files: Int): Unit = {
    import org.apache.spark.sql.functions._
    val b = df.agg(
      min(col(c1)).cast("double").as("min1"), max(col(c1)).cast("double").as("max1"),
      min(col(c2)).cast("double").as("min2"), max(col(c2)).cast("double").as("max2"))
    val withZ = df.crossJoin(broadcast(b))
      .withColumn("__b1",
        round((col(c1).cast("double") - col("min1")) /
          greatest(col("max1") - col("min1"), lit(1e-12)) * 65535).cast("long"))
      .withColumn("__b2",
        round((col(c2).cast("double") - col("min2")) /
          greatest(col("max2") - col("min2"), lit(1e-12)) * 65535).cast("long"))
      .withColumn("__z",
        (0 until 16).map { i =>
          (shiftright(col("__b1"), i).bitwiseAND(1) * lit(1L << (2 * i + 1))) +
            (shiftright(col("__b2"), i).bitwiseAND(1) * lit(1L << (2 * i)))
        }.reduce(_ + _))
    withZ.repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z", "__b1", "__b2", "min1", "max1", "min2", "max2")
      .write.mode("overwrite").parquet(path)
  }
}
