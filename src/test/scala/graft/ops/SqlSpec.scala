package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `spark.sql` entry point over registered views — the SQL-user surface
  * of the engine. SQL and DataFrame formulations must produce identical
  * results (they compile to the same Catalyst plans).
  */
class SqlSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  def registerViews(): Unit =
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation", "region")
      .foreach(t => Tables(spark, sf, t).createOrReplaceTempView(t))

  test("SQL ≡ DataFrame: join + aggregate") {
    registerViews()
    val viaSql = spark.sql(
      """SELECT o_orderpriority, count(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    val viaDf = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      .orderBy("o_orderpriority")
    assert(viaSql.collect().toSeq == viaDf.collect().toSeq)
  }

  test("SQL window functions and CTEs work over views") {
    registerViews()
    val top = spark.sql(
      """WITH ranked AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |SELECT * FROM ranked WHERE rn <= 2 ORDER BY o_custkey, rn""".stripMargin)
    val viaDf = Relational.q_topk_group(spark, sf).filter(col("rn") <= 2)
    assert(top.count() == viaDf.count())
  }

  test("registered graft_dot works in SQL similarity queries") {
    graft.functions.Vec.register(spark)
    Tables.embeddings(spark, sf)
      .withColumn("e", col("embedding").cast("array<double>"))
      .createOrReplaceTempView("emb_sql")
    val self = spark.sql(
      "SELECT vec_id, graft_dot(e, e) AS sq FROM emb_sql ORDER BY vec_id LIMIT 3").collect()
    assert(self.forall(_.getDouble(1) > 0))
  }

  test("parameterized SQL: named markers bind values without string interpolation") {
    Tables.orders(spark, sf).createOrReplaceTempView("param_orders")
    val n = spark.sql(
      "SELECT count(*) AS n FROM param_orders WHERE o_totalprice > :thr AND o_orderstatus = :st",
      Map("thr" -> 300000.0, "st" -> "O")).head.getLong(0)
    val expected = Tables.orders(spark, sf)
      .filter(col("o_totalprice") > 300000.0 && col("o_orderstatus") === "O").count()
    assert(n == expected && n > 0)
    // binding, not splicing: a quote in a string param must not break out
    val quoted = spark.sql(
      "SELECT count(*) AS n FROM param_orders WHERE o_orderstatus = :st",
      Map("st" -> "O' OR '1'='1")).head.getLong(0)
    assert(quoted == 0, "string param must be bound as a literal, not spliced")
  }

  test("global temp views live in global_temp and survive session forks") {
    Tables.nation(spark, sf).createOrReplaceGlobalTempView("g_nation")
    val viaGlobal = spark.sql("SELECT count(*) FROM global_temp.g_nation").head.getLong(0)
    assert(viaGlobal == Tables.nation(spark, sf).count())
    // a NEW session in the same SparkContext sees global temp views
    val s2 = spark.newSession()
    assert(s2.sql("SELECT count(*) FROM global_temp.g_nation").head.getLong(0) == viaGlobal)
    // ...but not plain temp views, which are session-scoped
    Tables.nation(spark, sf).createOrReplaceTempView("local_nation")
    intercept[Exception] { s2.sql("SELECT count(*) FROM local_nation").collect() }
  }

  test("MERGE INTO text form routes to the snapshot tier (upsert + time travel)") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_mergesql_").toString + "/t"
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "v")
    assert(Sinks.Snapshots.commit(spark, base, path) == 1)
    Sinks.Snapshots.registerTable(spark, "accounts", path)
    Seq((2L, "b2", 99.0), (4L, "d", 40.0)).toDF("k", "name", "v")
      .createOrReplaceTempView("staged_accounts")

    // the statement a migrating user types, verbatim
    val v = Sinks.Snapshots.mergeSql(spark,
      """MERGE INTO accounts AS t USING staged_accounts AS s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(v == 2)
    val after = Sinks.Snapshots.read(spark, path)
      .orderBy("k").as[(Long, String, Double)].collect().toSeq
    assert(after == Seq((1L, "a", 10.0), (2L, "b2", 99.0), (3L, "c", 30.0), (4L, "d", 40.0)))
    // history stays immutable: the pre-merge version still time-travels
    assert(Sinks.Snapshots.read(spark, path, Some(1)).count() == 3)

    // unsupported shapes fail LOUDLY with the supported form in the message
    val unreg = intercept[IllegalArgumentException] {
      Sinks.Snapshots.mergeSql(spark,
        """MERGE INTO nowhere t USING staged_accounts s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(unreg.getMessage.contains("registerTable"))
    val nonEqui = intercept[IllegalArgumentException] {
      Sinks.Snapshots.mergeSql(spark,
        """MERGE INTO accounts t USING staged_accounts s ON t.k > s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(nonEqui.getMessage.contains("equi-predicates"))
    // ON t.k = t.k is a typo, not a key-merge: a same-relation conjunct
    // must be rejected, never silently reinterpreted (ADVICE r14)
    val oneSided = intercept[IllegalArgumentException] {
      Sinks.Snapshots.mergeSql(spark,
        """MERGE INTO accounts t USING staged_accounts s ON t.k = t.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(oneSided.getMessage.contains("span target and source"))
    val bySource = intercept[IllegalArgumentException] {
      Sinks.Snapshots.mergeSql(spark,
        """MERGE INTO accounts t USING staged_accounts s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    }
    assert(bySource.getMessage.contains("NOT MATCHED BY SOURCE"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path).getParentFile)
  }

  test("MERGE INTO: a snapshot table name binds in its own session only") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_mergesql3_").toString + "/t"
    assert(Sinks.Snapshots.commit(spark, Seq((1L, "a")).toDF("k", "name"), path) == 1)
    Sinks.Snapshots.registerTable(spark, "session_bound", path)
    val merge = """MERGE INTO session_bound t USING staged_bound s ON t.k = s.k
                  |WHEN MATCHED THEN UPDATE SET *
                  |WHEN NOT MATCHED THEN INSERT *""".stripMargin
    val other = spark.newSession()
    Seq((2L, "b")).toDF("k", "name").createOrReplaceTempView("staged_bound")
    other.createDataFrame(Seq((2L, "b"))).toDF("k", "name").createOrReplaceTempView("staged_bound")
    val unbound = intercept[IllegalArgumentException] { Sinks.Snapshots.mergeSql(other, merge) }
    assert(unbound.getMessage.contains("not a registered snapshot table"))
    assert(Sinks.Snapshots.mergeSql(spark, merge) == 2)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path).getParentFile)
  }

  test("MERGE INTO: conditional clauses, SET lists, DELETE route through the CDC fold") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_mergesql2_").toString + "/t"
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (5L, "e", 50.0))
      .toDF("k", "name", "v")
    assert(Sinks.Snapshots.commit(spark, base, path) == 1)
    Sinks.Snapshots.registerTable(spark, "accounts2", path)
    // k=1: matched, v_new < 100  -> conditional UPDATE SET list fires
    // k=2: matched, op='D'       -> DELETE clause fires (first-true order)
    // k=3: matched, v_new >= 100 AND op<>'D' -> NO clause fires -> untouched
    // k=4: not matched, op<>'D'  -> INSERT fires
    // k=6: not matched, op='D'   -> a delete for an absent key inserts nothing
    Seq((1L, "a2", 11.0, "U"), (2L, "b2", 99.0, "D"), (3L, "c2", 300.0, "U"),
        (4L, "d", 40.0, "I"), (6L, "f", 60.0, "D"))
      .toDF("k", "name", "v", "op").createOrReplaceTempView("staged2")
    val v = Sinks.Snapshots.mergeSql(spark,
      """MERGE INTO accounts2 AS t USING staged2 AS s
        |ON t.k = s.k
        |WHEN MATCHED AND s.op = 'D' THEN DELETE
        |WHEN MATCHED AND s.v < 100 THEN UPDATE SET name = s.name, v = s.v + t.v
        |WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT (k, name, v) VALUES (s.k, upper(s.name), s.v)""".stripMargin)
    assert(v == 2)
    val after = Sinks.Snapshots.read(spark, path)
      .orderBy("k").as[(Long, String, Double)].collect().toSeq
    assert(after == Seq(
      (1L, "a2", 21.0),     // SET list: v = s.v + t.v = 11 + 10
      (3L, "c", 30.0),      // matched, no clause fired -> untouched
      (4L, "D", 40.0),      // INSERT (cols) VALUES: name = upper('d')
      (5L, "e", 50.0)))     // never staged -> untouched; k=2 deleted
    // history stays immutable through the CDC-fold route
    assert(Sinks.Snapshots.read(spark, path, Some(1)).orderBy("k")
      .as[(Long, String, Double)].collect().toSeq == Seq(
        (1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (5L, "e", 50.0)))

    // standard MERGE cardinality: two source rows hitting one target key
    Seq((1L, "x", 1.0, "U"), (1L, "y", 2.0, "U"))
      .toDF("k", "name", "v", "op").createOrReplaceTempView("staged2_dup")
    val card = intercept[IllegalArgumentException] {
      Sinks.Snapshots.mergeSql(spark,
        """MERGE INTO accounts2 t USING staged2_dup s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    }
    assert(card.getMessage.contains("cardinality"))
    // SET on a merge key is rejected (it would re-identify the row)
    val keySet = intercept[IllegalArgumentException] {
      Sinks.Snapshots.mergeSql(spark,
        """MERGE INTO accounts2 t USING staged2 s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET k = s.k + 1""".stripMargin)
    }
    assert(keySet.getMessage.contains("merge key"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path).getParentFile)
  }
}
