package graft.sources

import graft.SparkSpec

/** Shredded-JSON storage ([[LakeJsonShred]]): declared paths parse
  * once at ingest into hidden columns; `get_json_object` over them
  * rewrites to a plain columnar read that prunes the raw string away;
  * the rewrite is gated on every file carrying the columns and
  * answers never depend on the gate. */
class GraftLakeJsonShredSpec extends SparkSpec {

  private def readSchemaOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("ReadSchema")).mkString("|")

  test("declared paths serve from shredded columns; raw string prunes away") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.e (id BIGINT, props STRING) " +
      "TBLPROPERTIES('graft.json.shred'='props:$.plan,$.count')")
    spark.sql(s"""INSERT INTO $cat.e VALUES
      | (1, '{"plan": "pro", "count": 3, "x": 1}'),
      | (2, '{"plan": "free", "count": 5}'),
      | (3, '{"count": 9}'),
      | (4, NULL)""".stripMargin)
    val q = spark.sql(s"SELECT get_json_object(props, '$$.plan') AS p, " +
      s"CAST(get_json_object(props, '$$.count') AS BIGINT) AS c " +
      s"FROM $cat.e ORDER BY id")
    val got = q.collect().map(r =>
      (if (r.isNullAt(0)) null else r.getString(0),
        if (r.isNullAt(1)) null else r.getLong(1))).toSeq
    assert(got === Seq(("pro", 3L), ("free", 5L), (null, 9L),
      (null, null)), s"got $got")
    // the gate: the shredded plan reads ONLY the shredded columns
    val rs = readSchemaOf(q)
    assert(rs.contains("__shred_plan") && rs.contains("__shred_count"),
      s"expected shredded reads, got $rs")
    assert(!rs.contains("props"), s"raw column must prune away: $rs")
    // a NON-declared path still parses the raw string
    val other = spark.sql(
      s"SELECT get_json_object(props, '$$.x') AS x FROM $cat.e " +
        "WHERE id = 1")
    assert(other.collect()(0).getString(0) === "1")
    assert(readSchemaOf(other).contains("props"))
    // SELECT * stays clean of internals
    assert(!spark.table(s"$cat.e").columns
      .exists(LakeJsonShred.isShredCol))
  }

  test("shredded serving SURVIVES MoR masks (every data-landing path " +
      "shreds; the DV scan reads the hidden columns); a foreign " +
      "unshredded file degrades it and compaction re-earns it") {
    import spark.implicits._
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.e (id BIGINT, props STRING) " +
      "TBLPROPERTIES('graft.json.shred'='props:$.k')")
    spark.sql(s"""INSERT INTO $cat.e VALUES
      | (1, '{"k": "a"}'), (2, '{"k": "b"}')""".stripMargin)
    def q() = spark.sql(
      s"SELECT id, get_json_object(props, '$$.k') AS k FROM $cat.e " +
        "ORDER BY id")
    assert(readSchemaOf(q()).contains("__shred_k"))
    // a MoR upsert: the fresh file SHREDS like any commit, so serving
    // continues over the outstanding equality mask — the
    // between-compactions state keeps the parse-once plan
    VersionedTable.upsertByKeysMergeOnRead(spark, s"$root/e",
      Seq((2L, """{"k": "B"}"""), (3L, """{"k": "c"}"""))
        .toDF("id", "props"), Seq("id"))
    val overMask = q()
    // the masked plan reads through the DV scan (no FileScan
    // ReadSchema line) — the shredded column in the scan OUTPUT and
    // the raw column's absence are the plan facts
    val maskedPlan = overMask.queryExecution.executedPlan.toString
    assert(maskedPlan.contains("__shred_k"),
      s"serving must survive MoR masks: $maskedPlan")
    assert(!maskedPlan.contains("props"),
      s"raw column must stay pruned under masks: $maskedPlan")
    assert(overMask.collect().map(_.getString(1)).toSeq ===
      Seq("a", "B", "c"))
    // a FOREIGN (non-shredding) writer's file degrades the gate
    val head = VersionedTable.latestVersion(spark, s"$root/e").get
    val snap = VersionedTable.snapshotOf(spark, s"$root/e", head)
    val foreignDir = s"$root/e/files-v${head + 1}-foreign"
    val foreignDf = Seq((4L, """{"k": "d"}""")).toDF("id", "props")
    foreignDf.coalesce(1).write.parquet(foreignDir)
    val foreign = VersionedTable.listDataFiles(spark, s"$root/e",
      foreignDir)
    VersionedTable.publishVersion(spark, s"$root/e", head + 1,
      snap.dataFiles ++ foreign, foreignDf.schema, snap.deleteFiles,
      snap.stats, snap.meta, op = "foreign")
    val degraded = q()
    assert(!readSchemaOf(degraded).contains("__shred_k"),
      "rewrite must not fire over files missing the shredded column")
    assert(degraded.collect().map(_.getString(1)).toSeq ===
      Seq("a", "B", "c", "d"))
    // compaction re-materializes (commit path shreds) — rewrite back on
    spark.sql(s"CALL $cat.system.compact(table => 'e')")
    val healed = q()
    assert(readSchemaOf(healed).contains("__shred_k"),
      s"compact must re-earn the shredded plan: ${readSchemaOf(healed)}")
    assert(healed.collect().map(_.getString(1)).toSeq ===
      Seq("a", "B", "c", "d"))
  }

  test("shredded serving survives a copy-on-write DELETE: the rewrite " +
      "carries the stored columns, answers unchanged") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.e (id BIGINT, props STRING) " +
      "TBLPROPERTIES('graft.json.shred'='props:$.plan,$.n BIGINT')")
    // one file per insert, so each DELETE rewrites a file with survivors
    spark.sql(s"""INSERT INTO $cat.e SELECT /*+ COALESCE(1) */ * FROM VALUES
      | (1, '{"plan": "pro", "n": 3}'), (2, '{"plan": "free", "n": 5}'),
      | (3, '{"n": 9}'), (4, NULL) AS s(id, props)""".stripMargin)
    spark.sql(s"""INSERT INTO $cat.e SELECT /*+ COALESCE(1) */ * FROM VALUES
      | (5, '{"plan": "team", "n": 11}'), (6, '{"plan": "pro", "n": 1}')
      | AS s(id, props)""".stripMargin)
    def q() = spark.sql(s"SELECT id, get_json_object(props, '$$.plan') " +
      s"AS p, CAST(get_json_object(props, '$$.n') AS BIGINT) AS n " +
      s"FROM $cat.e ORDER BY id")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), Option(r.getString(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSeq
    val before = rows(q())
    val dir = s"$root/e"
    val filesBefore = VersionedTable.filesOf(spark, dir,
      VersionedTable.headVersion(spark, dir).get)
    // a translatable and an untranslatable condition: both rewrite
    spark.sql(s"DELETE FROM $cat.e WHERE id = 2")
    spark.sql(s"DELETE FROM $cat.e WHERE length(props) > 20 AND id = 5")
    val after0 = VersionedTable.snapshotOf(spark, dir,
      VersionedTable.headVersion(spark, dir).get)
    val fresh = after0.dataFiles.filterNot(filesBefore.contains)
    assert(fresh.exists(f =>
      after0.stats.get(f).exists(_.rowCount > 0L)),
      s"the DELETEs must rewrite files with survivors: $fresh")
    val after = q()
    val rs = readSchemaOf(after)
    assert(rs.contains("__shred_plan") && rs.contains("__shred_n__long"),
      s"shredded serving must survive DELETE: $rs")
    assert(!rs.contains("props"), s"raw column must stay pruned: $rs")
    assert(rows(after) === before.filterNot(r => r._1 == 2L || r._1 == 5L))
  }

  test("colliding sanitized column names are rejected loudly") {
    def props(v: String) = {
      val m = new java.util.HashMap[String, String]()
      m.put(LakeJsonShred.Prop, v)
      m
    }
    // case collision: $.K and $.k both sanitize to __shred_k
    val e1 = intercept[IllegalArgumentException] {
      LakeJsonShred.fromProps(props("props:$.K,$.k"))
    }
    assert(e1.getMessage.contains("collide"))
    // structural collision: $.a.b and $.a_b both -> __shred_a_b
    val e2 = intercept[IllegalArgumentException] {
      LakeJsonShred.fromProps(props("props:$.a.b,$.a_b"))
    }
    assert(e2.getMessage.contains("collide"))
    // same sanitized name at DIFFERENT types does not collide (the
    // type is part of the column name)
    val ok = LakeJsonShred.fromProps(props("props:$.k BIGINT,$.k"))
    assert(ok.get._2.map(LakeJsonShred.shredColName).distinct.size == 2)
  }

  test("typed shredding: CAST(get_json_object) rewrites to the typed " +
      "column and numeric range predicates prune files on semantic " +
      "min/max") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.e (id BIGINT, props STRING) " +
      "TBLPROPERTIES('graft.json.shred'='props:$.k BIGINT')")
    // two commits with DISJOINT k ranges -> disjoint per-file min/max
    spark.sql(s"""INSERT INTO $cat.e VALUES
      | (1, '{"k": 2}'), (2, '{"k": 9}')""".stripMargin)
    spark.sql(s"""INSERT INTO $cat.e VALUES
      | (3, '{"k": 100}'), (4, '{"k": 250}')""".stripMargin)
    val q = spark.sql(s"SELECT id, " +
      s"CAST(get_json_object(props, '$$.k') AS BIGINT) AS k " +
      s"FROM $cat.e " +
      s"WHERE CAST(get_json_object(props, '$$.k') AS BIGINT) >= 50 " +
      "ORDER BY id")
    LakeReadScanBuilder.lastStatsPrune.set(-1L)
    assert(q.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((3L, 100L), (4L, 250L)))
    // plan: typed column read, raw string pruned away
    val rs = readSchemaOf(q)
    assert(rs.contains("__shred_k__long"), s"typed shred read: $rs")
    assert(!rs.contains("props"), s"raw column must prune away: $rs")
    // files: the low-range commit pruned STATICALLY from manifest
    // min/max — semantic numeric bounds, where lexical "9" > "10"
    // would have kept everything
    val word = LakeReadScanBuilder.lastStatsPrune.get()
    assert(word >= 0, "static stats prune must have fired")
    val (kept, total) = ((word >> 32).toInt, word.toInt)
    assert(kept < total, s"expected kept < total, got $kept/$total")
    assert(kept >= 1, "the high-range file must survive")
  }

  test("typed shredding: bare get_json_object over a typed-only path " +
      "still parses the raw string (string-vs-typed never conflated)") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.e (id BIGINT, props STRING) " +
      "TBLPROPERTIES('graft.json.shred'='props:$.k BIGINT')")
    spark.sql(s"""INSERT INTO $cat.e VALUES (1, '{"k": 7}')""")
    val q = spark.sql(
      s"SELECT get_json_object(props, '$$.k') AS k FROM $cat.e")
    assert(q.collect()(0).getString(0) === "7")
    assert(readSchemaOf(q).contains("props"),
      "a string-domain read of a typed-only path must use the raw column")
  }

  test("filters push onto the shredded column") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.e (id BIGINT, props STRING) " +
      "TBLPROPERTIES('graft.json.shred'='props:$.plan')")
    spark.sql(s"""INSERT INTO $cat.e VALUES
      | (1, '{"plan": "pro"}'), (2, '{"plan": "free"}'),
      | (3, '{"plan": "pro"}')""".stripMargin)
    val q = spark.sql(s"SELECT id FROM $cat.e " +
      s"WHERE get_json_object(props, '$$.plan') = 'pro' ORDER BY id")
    assert(q.collect().map(_.getLong(0)).toSeq === Seq(1L, 3L))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("__shred_plan") && !plan.contains("props"),
      s"filter must run on the shredded column: $plan")
  }
}
