package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftCatalog, GraftStorage}

/** Merge-on-read snapshots through the SQL catalog: [[MorReadRule]]
  * rewrites the V2 relation into `scan ⟕̸ broadcast(DV keys)` at
  * resolution, so catalog SELECTs agree with the V1 reader on every
  * DV shape — while the scan itself keeps the manifest file list and
  * its plan-time pruning.
  */
class MorReadSpec extends AnyFunSuite {
  import SparkTestSession.{jobsOf, spark, SF}
  import spark.implicits._

  GraftCatalog.register(spark)
  private val st = GraftStorage(spark)

  private def fresh(name: String): String = {
    val out = T.scratch(SF, name)
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    out
  }

  private def seed(name: String, parts: Int = 4): String = {
    val out = fresh(name)
    val base = T.t(spark, SF, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice")
    st.writeVersioned(base.repartitionByRange(parts, $"o_orderkey"), out)
    out
  }

  test("catalog SELECT on a MoR snapshot equals the V1 reader") {
    val out = seed("mor_select")
    st.deleteVersionedMor(out, $"o_orderkey" % 7 === 0, "o_orderkey")
    val viaSql = spark.sql(
      s"SELECT count(*) AS c, sum(o_orderkey) AS s FROM graft.`$out`").head()
    val viaApi = st.readVersioned(out)
      .agg(count(lit(1)), sum($"o_orderkey")).head()
    assert(viaSql.getLong(0) == viaApi.getLong(0))
    assert(viaSql.getLong(1) == viaApi.getLong(1))
    // the plan really is an anti join over the V2 relation — not a
    // fallback to some other read path
    val plan = spark.sql(s"SELECT * FROM graft.`$out`")
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("LeftAnti"), plan)
  }

  test("deleted rows are gone; survivors intact; NULL keys unaffected") {
    val out = seed("mor_rows")
    val before = st.readVersioned(out)
      .filter($"o_orderkey" < 100).count()
    st.deleteVersionedMor(out, $"o_orderkey" < 100, "o_orderkey")
    assert(before > 0)
    val hits = spark.sql(
      s"SELECT count(*) AS c FROM graft.`$out` WHERE o_orderkey < 100")
      .head().getLong(0)
    assert(hits == 0L)
    // full-row agreement, not just counts
    val sqlRows = spark.sql(
      s"SELECT * FROM graft.`$out` ORDER BY o_orderkey").collect()
    val apiRows = st.readVersioned(out)
      .orderBy($"o_orderkey").collect()
    assert(sqlRows.toSeq == apiRows.toSeq)
  }

  test("two MoR commits on different key columns stack (two anti joins)") {
    val out = seed("mor_two_keys")
    st.deleteVersionedMor(out, $"o_orderkey" % 5 === 0, "o_orderkey")
    st.deleteVersionedMor(out, $"o_custkey" % 11 === 3, "o_custkey")
    val viaSql = spark.sql(
      s"SELECT count(*) AS c FROM graft.`$out`").head().getLong(0)
    val viaApi = st.readVersioned(out).count()
    assert(viaSql == viaApi)
    val plan = spark.sql(s"SELECT * FROM graft.`$out`")
      .queryExecution.optimizedPlan.toString
    assert("LeftAnti".r.findAllIn(plan).size == 2, plan)
  }

  test("VERSION AS OF: pre-DV snapshot is whole, DV snapshot applies") {
    val out = seed("mor_travel")
    val v0 = st.listVersions(out).last
    val whole = st.readVersioned(out, Some(v0)).count()
    val v1 = st.deleteVersionedMor(out, $"o_orderkey" % 3 === 0, "o_orderkey")
    val pre = spark.sql(
      s"SELECT count(*) AS c FROM graft.`$out` VERSION AS OF $v0")
      .head().getLong(0)
    val post = spark.sql(
      s"SELECT count(*) AS c FROM graft.`$out` VERSION AS OF $v1")
      .head().getLong(0)
    assert(pre == whole)
    assert(post == st.readVersioned(out, Some(v1)).count())
    assert(post < pre)
  }

  test("a racing MoR commit between rule and scan cannot skew: the " +
      "rewritten relation is version-pinned") {
    val out = seed("mor_pin")
    st.deleteVersionedMor(out, $"o_orderkey" % 2 === 0, "o_orderkey")
    val df = spark.sql(s"SELECT count(*) AS c FROM graft.`$out`")
    val expect = st.readVersioned(out).count()
    // commit MORE deletes after analysis but before execution
    st.deleteVersionedMor(out, $"o_orderkey" % 3 === 0, "o_orderkey")
    assert(df.head().getLong(0) == expect,
      "analyzed plan must read the snapshot it resolved, not latest")
  }

  test("filters still push into the scan below the anti join") {
    val out = seed("mor_pushdown")
    st.deleteVersionedMor(out, $"o_orderkey" === 1L, "o_orderkey")
    val df = spark.sql(
      s"SELECT o_orderkey FROM graft.`$out` WHERE o_orderkey < 100")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("LessThan(o_orderkey,100)"), plan)
    assert(df.count() ==
      st.readVersioned(out).filter($"o_orderkey" < 100).count())
  }

  test("aggregates are NOT answered from pre-DV metadata") {
    val out = seed("mor_no_meta_agg")
    // delete the row holding the global max: a pre-DV MIN/MAX or
    // R-line COUNT fast path would answer wrong
    val mx = st.readVersioned(out).agg(max($"o_orderkey")).head().getLong(0)
    st.deleteVersionedMor(out, $"o_orderkey" === mx, "o_orderkey")
    val got = spark.sql(
      s"SELECT count(*) AS c, max(o_orderkey) AS mx FROM graft.`$out`")
      .head()
    val want = st.readVersioned(out)
      .agg(count(lit(1)), max($"o_orderkey")).head()
    assert(got.getLong(0) == want.getLong(0))
    assert(got.getLong(1) == want.getLong(1) && got.getLong(1) < mx)
  }

  test("INSERT INTO a MoR table appends; SELECT side of INSERT-SELECT " +
      "applies DVs") {
    val tgt = seed("mor_insert_tgt")
    val src = seed("mor_insert_src")
    st.deleteVersionedMor(src, $"o_orderkey" =!= 2L, "o_orderkey")
    val srcLive = st.readVersioned(src).count()
    val before = st.readVersioned(tgt).count()
    spark.sql(s"INSERT INTO graft.`$tgt` SELECT * FROM graft.`$src`")
    assert(st.readVersioned(tgt).count() == before + srcLive)
    // and the append is readable back through SQL (target had no DVs)
    val c = spark.sql(s"SELECT count(*) AS c FROM graft.`$tgt`")
      .head().getLong(0)
    assert(c == before + srcLive)
  }

  test("MERGE with a MoR SOURCE reads the source post-DV") {
    val tgt = seed("mor_merge_tgt")
    val src = seed("mor_merge_src")
    // in the source, delete everything except o_orderkey <= 32
    st.deleteVersionedMor(src, $"o_orderkey" > 32L, "o_orderkey")
    val liveSrc = st.readVersioned(src)
      .select($"o_orderkey").as[Long].collect().toSet
    spark.sql(
      s"""MERGE INTO graft.`$tgt` t USING graft.`$src` s
         |ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED THEN UPDATE SET t.o_orderstatus = 'M'
         |""".stripMargin)
    val marked = st.readVersioned(tgt)
      .filter($"o_orderstatus" === "M")
      .select($"o_orderkey").as[Long].collect().toSet
    assert(marked == liveSrc,
      s"MERGE must see the DV-applied source (marked=${marked.size}, " +
        s"live=${liveSrc.size})")
  }

  test("self-join of a MoR table: each occurrence applies its own DVs") {
    val out = seed("mor_self")
    st.deleteVersionedMor(out, $"o_orderkey" % 2 === 1, "o_orderkey")
    val n = spark.sql(
      s"""SELECT count(*) AS c FROM graft.`$out` a
         |JOIN graft.`$out` b ON a.o_orderkey = b.o_orderkey
         |""".stripMargin).head().getLong(0)
    assert(n == st.readVersioned(out).count())
  }

  test("subquery over a MoR table applies DVs") {
    val clean = seed("mor_subq_clean")
    val mor = seed("mor_subq_mor")
    st.deleteVersionedMor(mor, $"o_orderkey" > 10L, "o_orderkey")
    val keep = st.readVersioned(mor).count()
    val n = spark.sql(
      s"""SELECT count(*) AS c FROM graft.`$clean`
         |WHERE o_orderkey IN (SELECT o_orderkey FROM graft.`$mor`)
         |""".stripMargin).head().getLong(0)
    assert(n == keep)
  }

  test("CTAS from a MoR table materializes the DV-applied rows") {
    val src = seed("mor_ctas_src")
    st.deleteVersionedMor(src, $"o_orderkey" % 4 === 0, "o_orderkey")
    val dst = fresh("mor_ctas_dst")
    spark.sql(
      s"CREATE TABLE graft.`$dst` AS SELECT * FROM graft.`$src`")
    assert(st.readVersioned(dst).count() == st.readVersioned(src).count())
    assert(!st.hasDeletionVectors(dst), "the copy must be clean CoW")
  }

  test("UPDATE on a MoR snapshot still refuses (row-level target " +
      "is never rewritten)") {
    val out = seed("mor_update_refuse")
    st.deleteVersionedMor(out, $"o_orderkey" === 1L, "o_orderkey")
    val e = intercept[Exception] {
      spark.sql(s"UPDATE graft.`$out` SET o_orderstatus = 'X' " +
        "WHERE o_orderkey = 2")
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else String.valueOf(t.getMessage) +: messages(t.getCause)
    assert(messages(e).exists(_.contains("deletion vectors")), e)
  }

  test("partitioned MoR table reads correctly through the catalog") {
    val out = fresh("mor_partitioned")
    val base = T.t(spark, SF, "orders")
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
    st.writeVersionedPartitioned(base, out, Seq("o_orderstatus"))
    st.deleteVersionedMor(out, $"o_orderkey" % 2 === 0, "o_orderkey")
    val viaSql = spark.sql(
      s"SELECT o_orderstatus, count(*) AS c FROM graft.`$out` " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus").collect()
    val viaApi = st.readVersioned(out)
      .groupBy($"o_orderstatus").agg(count(lit(1)))
      .orderBy($"o_orderstatus").collect()
    assert(viaSql.toSeq == viaApi.toSeq)
  }

  test("delete_mode=merge-on-read routes SQL DELETE to a DV commit") {
    val out = fresh("mor_delete_mode")
    spark.sql(
      s"""CREATE TABLE graft.`$out` (k BIGINT, v STRING) USING graft
         |TBLPROPERTIES ('delete_mode'='merge-on-read','mor_key'='k')
         |""".stripMargin)
    spark.sql(s"INSERT INTO graft.`$out` " +
      "SELECT id AS k, CAST(id % 5 AS STRING) AS v FROM range(0, 1000)")
    def dataFiles: Seq[String] =
      st.manifestFiles(out, st.listVersions(out).last)
    val filesBefore = dataFiles
    // source-translatable predicate: the metadata-delete hook routes
    // it to deleteVersionedMor (an untranslatable shape, e.g. k % 3,
    // falls to the group-based copy-on-write path — documented)
    spark.sql(s"DELETE FROM graft.`$out` WHERE k < 334")
    assert(st.hasDeletionVectors(out),
      "SQL DELETE must publish a deletion vector, not rewrite files")
    assert(dataFiles == filesBefore,
      "MoR delete must carry every data file verbatim")
    assert(spark.sql(s"SELECT count(*) AS c FROM graft.`$out`")
      .head().getLong(0) == 666L)
    // stacked second delete on the same key column: one anti join
    spark.sql(s"DELETE FROM graft.`$out` WHERE k >= 900")
    assert(spark.sql(s"SELECT count(*) AS c FROM graft.`$out`")
      .head().getLong(0) == 566L)
    val plan = spark.sql(s"SELECT * FROM graft.`$out`")
      .queryExecution.optimizedPlan.toString
    assert("LeftAnti".r.findAllIn(plan).size == 1,
      s"same-key DVs must group into ONE anti join:\n$plan")
  }

  test("delete_mode=merge-on-read on a PARTITIONED table keeps the " +
      "layout (DELETE is accepted and moves zero files)") {
    val out = fresh("mor_delete_mode_part")
    spark.sql(
      s"""CREATE TABLE graft.`$out` (k BIGINT, st STRING, v DOUBLE)
         |USING graft PARTITIONED BY (st)
         |TBLPROPERTIES ('delete_mode'='merge-on-read','mor_key'='k')
         |""".stripMargin)
    spark.sql(s"INSERT INTO graft.`$out` " +
      "SELECT id AS k, CAST(id % 3 AS STRING) AS st, " +
      "CAST(id AS DOUBLE) AS v FROM range(0, 300)")
    spark.sql(s"DELETE FROM graft.`$out` WHERE k < 100")
    assert(st.hasDeletionVectors(out))
    assert(st.partitionSpec(out, st.listVersions(out).last) == Seq("st"),
      "partition spec must survive the MoR delete")
    assert(spark.sql(s"SELECT count(*) AS c FROM graft.`$out`")
      .head().getLong(0) == 200L)
  }

  test("delete_mode=merge-on-read without mor_key is refused at CREATE") {
    val out = fresh("mor_delete_mode_nokey")
    val e = intercept[Exception] {
      spark.sql(
        s"""CREATE TABLE graft.`$out` (k BIGINT) USING graft
           |TBLPROPERTIES ('delete_mode'='merge-on-read')""".stripMargin)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else String.valueOf(t.getMessage) +: messages(t.getCause)
    assert(messages(e).exists(_.contains("mor_key")), e)
  }

  // ---- sequence-scoped DVs (Iceberg equality-delete rule) ----

  test("a key re-inserted AFTER a MoR delete survives: DVs apply only " +
      "to files committed before them") {
    val out = fresh("mor_seq_reinsert")
    st.writeVersioned(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), out)
    st.deleteVersionedMor(out, $"k" === 2L, "k")
    assert(st.readVersioned(out).count() == 2)
    // re-insert the deleted key in a LATER commit
    st.writeVersioned(Seq((2L, "b2")).toDF("k", "v"), out, append = true)
    val got = st.readVersioned(out).orderBy($"k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a"), (2L, "b2"), (3L, "c")),
      s"the re-inserted key must survive the earlier DV: $got")
    // and the SQL catalog (multi-generation fallback plan) agrees
    val viaSql = spark.sql(
      s"SELECT k, v FROM graft.`$out` ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(viaSql == got)
    // a SECOND MoR delete still kills both old and re-inserted copies
    st.deleteVersionedMor(out, $"k" === 2L, "k")
    assert(st.readVersioned(out).count() == 2)
    assert(spark.sql(s"SELECT count(*) AS c FROM graft.`$out`")
      .head().getLong(0) == 2)
  }

  test("mergeVersionedMor: upsert as one DV+files commit, zero data " +
      "files moved") {
    val out = fresh("mor_merge_upsert")
    st.writeVersioned(
      spark.range(0, 100).select($"id".as("k"),
        concat(lit("old"), $"id".cast("string")).as("v"))
        .repartition(4), out)
    val filesBefore = st.manifestFiles(out, st.listVersions(out).last)
    // update half the keys + insert new ones
    val updates = spark.range(0, 50).select($"id".as("k"),
      lit("upd").as("v"))
      .union(spark.range(100, 120).select($"id".as("k"),
        lit("new").as("v")))
    st.mergeVersionedMor(out, updates, "k")
    val after = st.manifestFiles(out, st.listVersions(out).last)
    assert(filesBefore.forall(after.contains),
      "every pre-merge data file must carry verbatim")
    val got = st.readVersioned(out)
    assert(got.count() == 120)
    assert(got.filter($"v" === "upd").count() == 50)
    assert(got.filter($"v" === "new").count() == 20)
    assert(got.filter($"v".startsWith("old")).count() == 50)
    // equals the copy-on-write MERGE of the same inputs
    val cow = fresh("mor_merge_upsert_cow")
    st.writeVersioned(
      spark.range(0, 100).select($"id".as("k"),
        concat(lit("old"), $"id".cast("string")).as("v"))
        .repartition(4), cow)
    st.mergeVersioned(cow, updates, "k")
    assert(st.readVersioned(out).orderBy($"k").collect().toSeq ==
      st.readVersioned(cow).orderBy($"k").collect().toSeq)
  }

  test("stacked MoR upserts: later generations win, SQL agrees, " +
      "compaction folds them away") {
    val out = fresh("mor_merge_stack")
    st.writeVersioned(
      spark.range(0, 30).select($"id".as("k"), lit(0L).as("gen")), out)
    st.mergeVersionedMor(out,
      spark.range(10, 40).select($"id".as("k"), lit(1L).as("gen")), "k")
    st.mergeVersionedMor(out,
      spark.range(20, 50).select($"id".as("k"), lit(2L).as("gen")), "k")
    def expectGen(k: Long): Long =
      if (k >= 20) 2L else if (k >= 10) 1L else 0L
    val got = st.readVersioned(out).orderBy($"k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == (0L until 50L).map(k => (k, expectGen(k))))
    val viaSql = spark.sql(s"SELECT k, gen FROM graft.`$out` ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaSql == got)
    // time travel: the middle generation reads as committed
    val v1 = st.listVersions(out)(1)
    assert(st.readVersioned(out, Some(v1)).count() == 40)
    st.compactVersioned(out, 2)
    assert(!st.hasDeletionVectors(out))
    assert(st.readVersioned(out).orderBy($"k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == got)
  }

  test("mergeVersionedMor refuses NULL keys and partitioned tables") {
    val out = fresh("mor_merge_refuse")
    st.writeVersioned(Seq((1L, "a")).toDF("k", "v"), out)
    val e1 = intercept[IllegalArgumentException] {
      st.mergeVersionedMor(out,
        Seq((Option.empty[Long], "x")).toDF("k", "v"), "k")
    }
    assert(e1.getMessage.contains("NULL"), e1.getMessage)
    // the refused commit must leave no trace
    assert(st.listVersions(out).size == 1)
    assert(st.readVersioned(out).count() == 1)
    val part = fresh("mor_merge_refuse_part")
    st.writeVersionedPartitioned(
      Seq((1L, "x", 1.0)).toDF("k", "st", "v"), part, Seq("st"))
    val e2 = intercept[IllegalArgumentException] {
      st.mergeVersionedMor(part, Seq((1L, "x", 2.0)).toDF("k", "st", "v"), "k")
    }
    assert(e2.getMessage.contains("partitioned"), e2.getMessage)
  }

  test("updateVersionedMor equals the copy-on-write UPDATE, moving " +
      "zero files") {
    val mor = fresh("mor_update_api")
    val cow = fresh("mor_update_api_cow")
    val mk = spark.range(0, 200).select($"id".as("k"),
      ($"id" % 7).as("v"))
    Seq(mor, cow).foreach(p =>
      st.writeVersioned(mk.repartition(4), p))
    val filesBefore = st.manifestFiles(mor, st.listVersions(mor).last)
    st.updateVersionedMor(mor, $"k" % 3 === 0,
      Map("v" -> (col("v") + 100L)), "k")
    st.updateVersioned(cow, $"k" % 3 === 0,
      Map("v" -> (col("v") + 100L)))
    assert(st.manifestFiles(mor, st.listVersions(mor).last)
      .take(filesBefore.size) == filesBefore,
      "MoR update must carry every pre-update file verbatim")
    assert(st.readVersioned(mor).orderBy($"k").collect().toSeq ==
      st.readVersioned(cow).orderBy($"k").collect().toSeq)
    // SQL catalog read of the mixed-generation snapshot agrees too
    assert(spark.sql(s"SELECT k, v FROM graft.`$mor` ORDER BY k")
      .collect().toSeq ==
      st.readVersioned(cow).orderBy($"k").collect().toSeq)
  }

  test("updateVersionedMor refuses to SET the key column (the DV " +
      "would target post-update values)") {
    val out = fresh("mor_update_setkey")
    st.writeVersioned(Seq((5L, 1L), (6L, 2L)).toDF("k", "v"), out)
    val e = intercept[IllegalArgumentException] {
      st.updateVersionedMor(out, $"k" === 5L, Map("k" -> lit(6L)), "k")
    }
    assert(e.getMessage.contains("key column"), e.getMessage)
    assert(st.readVersioned(out).count() == 2)
  }

  test("a refused CREATE (bad MoR properties) leaves no half-created " +
      "table; the corrected retry succeeds") {
    val out = fresh("mor_create_retry")
    intercept[Exception] {
      spark.sql(s"CREATE TABLE graft.`$out` (k BIGINT) USING graft " +
        "TBLPROPERTIES ('delete_mode'='merge-on-read')")
    }
    assert(st.listVersions(out).isEmpty,
      "refused CREATE must not publish v0")
    assert(st.tablePropertiesOf(out).isEmpty,
      "refused CREATE must not persist properties")
    spark.sql(s"CREATE TABLE graft.`$out` (k BIGINT) USING graft " +
      "TBLPROPERTIES ('delete_mode'='merge-on-read','mor_key'='k')")
    assert(st.tablePropertiesOf(out).get("mor_key").contains("k"))
  }

  test("an over-ceiling DV is refused loudly (API) and the SQL route " +
      "falls back to copy-on-write") {
    val out = fresh("mor_dv_ceiling")
    spark.sql(
      s"""CREATE TABLE graft.`$out` (k BIGINT, v STRING) USING graft
         |TBLPROPERTIES ('delete_mode'='merge-on-read','mor_key'='k')
         |""".stripMargin)
    spark.sql(s"INSERT INTO graft.`$out` " +
      "SELECT id AS k, CAST(id AS STRING) AS v FROM range(0, 5000)")
    spark.conf.set("spark.graft.mor.maxDvBytes", "1024")
    try {
      val e = intercept[graft.sources.DvTooLargeException] {
        st.deleteVersionedMor(out, $"k" >= 0L, "k")
      }
      assert(e.dvBytes > e.maxBytes)
      assert(st.listVersions(out).size == 2,
        "the refused MoR delete must leave no commit")
      assert(!st.hasDeletionVectors(out))
      // the SQL route silently takes the copy-on-write path instead
      spark.sql(s"DELETE FROM graft.`$out` WHERE k < 4000")
      assert(!st.hasDeletionVectors(out),
        "oversize DELETE must have fallen back to CoW")
      assert(spark.sql(s"SELECT count(*) AS c FROM graft.`$out`")
        .head().getLong(0) == 1000L)
    } finally spark.conf.unset("spark.graft.mor.maxDvBytes")
  }

  test("CDC across a MoR upsert commit diffs the snapshots exactly") {
    val out = fresh("mor_merge_cdc")
    st.writeVersioned(
      spark.range(0, 10).select($"id".as("k"), lit("a").as("v")), out)
    val v0 = st.listVersions(out).last
    val v1 = st.mergeVersionedMor(out,
      Seq((3L, "b"), (42L, "b")).toDF("k", "v"), "k")
    val ch = st.changesVersioned(out, v0, v1)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSet
    assert(ch == Set((3L, "a", "delete"), (3L, "b", "insert"),
      (42L, "b", "insert")), ch)
  }

  test("compaction clears the DVs and the anti join disappears") {
    val out = seed("mor_compact_clears")
    st.deleteVersionedMor(out, $"o_orderkey" % 2 === 0, "o_orderkey")
    val live = st.readVersioned(out).count()
    st.compactVersioned(out, 2)
    assert(!st.hasDeletionVectors(out))
    val df = spark.sql(s"SELECT count(*) AS c FROM graft.`$out`")
    assert(df.head().getLong(0) == live)
    assert(!df.queryExecution.optimizedPlan.toString.contains("LeftAnti"))
  }

  test("overlapping DVs on one key: rows unchanged on the V1, catalog and " +
    "CDC reads, no Aggregate under the broadcast, one job fewer") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan}
    val out = seed("mor_dv_overlap")
    val v0 = st.listVersions(out).last
    val at0 = st.readVersioned(out, Some(v0))
    // keys 100..199 sit in BOTH DV files
    st.deleteVersionedMorKeys(out,
      at0.filter($"o_orderkey" < 200).select("o_orderkey"), "o_orderkey")
    val v2 = st.deleteVersionedMorKeys(out,
      at0.filter($"o_orderkey".between(100, 300)).select("o_orderkey"),
      "o_orderkey")
    val dvFiles = st.manifestEntries(out, v2)
      .filter(_.startsWith("D\t")).map(_.split("\t")(2))
    assert(dvFiles.size == 2)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    def aggsUnderJoins(p: LogicalPlan): Int =
      p.collect { case j: Join => j.right.collect { case a: Aggregate => a }.size }.sum
    val deleted = $"o_orderkey" <= 300
    // the same read with the distinct build side it had before (a def:
    // a Dataset collected twice reuses its finished adaptive plan)
    def dvKeys = spark.read.schema(at0.select("o_orderkey").schema)
      .parquet(dvFiles: _*)
    def withDistinct = at0.join(broadcast(dvKeys.distinct()),
      Seq("o_orderkey"), "left_anti")
    val expected = rows(at0.filter(!deleted))
    assert(expected.size < rows(at0).size)
    val v1Read = st.readVersioned(out)
    val sqlRead = spark.sql(s"SELECT * FROM graft.`$out`")
    Seq(v1Read, sqlRead).foreach { df =>
      assert(rows(df) == expected)
      assert(aggsUnderJoins(df.queryExecution.optimizedPlan) == 0,
        df.queryExecution.optimizedPlan)
    }
    assert(rows(withDistinct) == expected)
    // CDC across both commits: every deleted row once, as a delete
    val changes = st.changesVersioned(out, v0, v2)
    assert(rows(changes.drop("_change_type")) == rows(at0.filter(deleted)))
    assert(changes.filter($"_change_type" =!= "delete").count() == 0)
    assert(aggsUnderJoins(changes.queryExecution.optimizedPlan) == 0,
      changes.queryExecution.optimizedPlan)
    // one key group: its shuffle stage (one job) is gone
    assert(jobsOf(st.readVersioned(out).collect()) ==
      jobsOf(withDistinct.collect()) - 1)
  }

  test("the benchmark's versioned cycle: pinned jobs per commit op") {
    // write, MoR upsert, MoR delete, compact, read — each op's Spark
    // jobs, so a commit-path change that adds a side job shows here
    val out = fresh("mor_cycle_jobs")
    val base = T.t(spark, SF, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice")
    val updates = base.filter($"o_orderkey" % 10 === 3)
      .withColumn("o_totalprice", $"o_totalprice" + 1)
    val jobs = Seq(
      jobsOf(st.writeVersioned(base, out)),
      jobsOf(st.mergeVersionedMor(out, updates, "o_orderkey")),
      jobsOf(st.deleteVersionedMor(out, $"o_orderstatus" === "F",
        "o_orderkey")),
      jobsOf(st.compactVersioned(out)),
      jobsOf(st.readVersioned(out).collect()))
    assert(jobs == Seq(1, 3, 3, 3, 1))
  }
}
