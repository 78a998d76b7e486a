package graft.sources

import graft.SparkSpec

/** SCHEMA IN THE MANIFEST ([[LakeSchema]]): every data-landing commit
  * records the snapshot's physical file-union schema in the manifest
  * meta, and plan-time consumers (catalog delegate, table_changes,
  * streaming source) serve it with ZERO footer IO — the
  * Iceberg/Delta "schema is metadata" discipline. */
class GraftLakeSchemaSpec extends SparkSpec {

  private def headMeta(dir: String): Map[String, String] = {
    val v = VersionedTable.latestVersion(spark, dir).get
    VersionedTable.snapshotOf(spark, dir, v).meta
  }

  test("schema resolves from the manifest ALONE on a multi-file " +
      "table — proven by making every data file unreadable") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 'a'), (2, 'b')")
    spark.sql(s"INSERT INTO $cat.t VALUES (3, 'c')")
    val recorded = LakeSchema.fromMeta(headMeta(s"$root/t"))
    assert(recorded.isDefined, "commit must record the schema")
    assert(recorded.get.fieldNames.toSeq === Seq("k", "v"))
    // truncate every data file to ZERO bytes (file still listed, but
    // any footer open throws): schema inference would fail here, the
    // manifest record cannot — the zero-footer-IO pin
    def leafParquets(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap(c =>
        if (c.isDirectory) leafParquets(c)
        else if (c.getName.endsWith(".parquet")) Seq(c) else Nil)
    val files = new java.io.File(s"$root/t").listFiles()
      .filter(_.getName.startsWith("files-v")).toSeq
      .flatMap(leafParquets)
    assert(files.size >= 2, s"want a multi-file table, got $files")
    val saved = files.map(f =>
      f -> java.nio.file.Files.readAllBytes(f.toPath))
    try {
      files.foreach(f => new java.io.FileOutputStream(f).close())
      // a FRESH catalog alias (same root) defeats relation caching:
      // a scratch catalog repointed at `root` before its first use
      val (cat2, _) = freshCatalog()
      spark.conf.set(s"spark.sql.catalog.$cat2.root", root)
      val sch = spark.table(s"$cat2.t").schema
      assert(sch.fieldNames.toSeq === Seq("k", "v"),
        s"schema must serve from the manifest, got $sch")
    } finally saved.foreach { case (f, bytes) =>
      java.nio.file.Files.write(f.toPath, bytes) }
  }

  test("appends union the recorded schema; a row-level rewrite learns " +
      "its materialized lineage columns") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.row.lineage'='true')")
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 10), (2, 20)")
    val before = LakeSchema.fromMeta(headMeta(s"$root/t")).get
    assert(!before.fieldNames.exists(
      _.equalsIgnoreCase(LakeRowLineage.PhysRowId)))
    spark.sql(s"UPDATE $cat.t SET v = 99 WHERE k = 1")
    val after = LakeSchema.fromMeta(headMeta(s"$root/t")).get
    assert(after.fieldNames.exists(
      _.equalsIgnoreCase(LakeRowLineage.PhysRowId)),
      s"rewrite must record its materialized lineage column: $after")
    // and the union never leaks into the logical surface
    assert(spark.table(s"$cat.t").columns.toSeq === Seq("k", "v"))
    assert(spark.sql(s"SELECT k, _row_id FROM $cat.t WHERE k = 1")
      .collect()(0).getLong(1) === 0L)
  }

  test("time travel serves the version-pinned recorded schema") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k INT)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1)")
    spark.sql(s"ALTER TABLE $cat.t ALTER COLUMN k TYPE BIGINT")
    spark.sql(s"INSERT INTO $cat.t VALUES (8000000000)")
    assert(spark.table(s"$cat.t").schema("k").dataType ===
      org.apache.spark.sql.types.LongType)
    val narrow = spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 1")
    assert(narrow.schema("k").dataType ===
      org.apache.spark.sql.types.IntegerType,
      "pre-widen snapshot must serve the narrow recorded schema")
  }

  test("table_changes hides shredded-JSON columns (batch schema equals " +
      "the streaming feed's)") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.e (id BIGINT, props STRING) " +
      "TBLPROPERTIES('graft.json.shred'='props:$.k')")
    spark.sql(s"""INSERT INTO $cat.e VALUES (1, '{"k": "a"}')""")
    val feed = VersionedTable.tableChanges(spark, s"$root/e", 0)
    assert(!feed.columns.exists(LakeJsonShred.isShredCol),
      s"batch feed leaked shred columns: ${feed.columns.toSeq}")
    assert(feed.columns.toSeq ===
      Seq("id", "props", "_change_type", "_commit_version"))
  }
}
