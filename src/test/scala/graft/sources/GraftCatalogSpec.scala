package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Pure-SQL access through the V2 catalog: every snapshot store under
  * the warehouse root is a SQL table; VERSION AS OF (integer or tag)
  * / TIMESTAMP AS OF resolve manifests; plain stores ride the parquet
  * V2 path while MoR/renamed stores scan through the engine's
  * effective read; INSERT INTO/OVERWRITE/DELETE FROM, CREATE TABLE/
  * CTAS and ALTER RENAME/DROP COLUMN all ride the manifest layer;
  * CALL procedures expose maintenance; metadata tables expose
  * history/tags/txns; pinned-version writes and destructive
  * lifecycle refuse. */
class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  private lazy val root = {
    val r = scratch(
      s"catalog/${java.util.UUID.randomUUID().toString.take(8)}")
    spark.conf.set("spark.sql.catalog.gcat",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcat.root",
      new java.io.File(r).getAbsolutePath)
    r
  }

  test("SQL select + pushdown, VERSION AS OF, TIMESTAMP AS OF, " +
      "listTables, evolution nulls") {
    Snapshots.create(spark, s"$root/events",
      (1L to 100L).map(i => (i, i * 2)).toDF("id", "v"), nFiles = 4)
    Snapshots.deleteWhere(spark, s"$root/events", "id", 1L, 40L)
    // latest = post-delete; VERSION AS OF 1 = the full version
    assert(spark.sql("SELECT count(*) AS n FROM gcat.events")
      .as[Long].head() == 60L)
    assert(spark.sql(
      "SELECT count(*) AS n FROM gcat.events VERSION AS OF 1")
      .as[Long].head() == 100L)
    assert(spark.sql(
      "SELECT sum(v) AS s FROM gcat.events WHERE id <= 50")
      .as[Long].head() == (41L to 50L).map(_ * 2).sum)
    // TIMESTAMP AS OF now → the latest version
    val nowIso = java.time.Instant.now().plusSeconds(2).toString
    assert(spark.sql(
      s"SELECT count(*) FROM gcat.events TIMESTAMP AS OF '$nowIso'")
      .as[Long].head() == 60L)
    // listing sees the store
    assert(spark.sql("SHOW TABLES IN gcat").collect()
      .map(_.getString(1)).contains("events"))
    // table properties surface the resolved version + op
    val props = spark.sql("SHOW TBLPROPERTIES gcat.events").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("graft.version") == "2" &&
      props("graft.op") == "delete")
    // additive evolution: old files read the new column as null
    Snapshots.append(spark, s"$root/events",
      Seq((101L, 202L, "tagged")).toDF("id", "v", "tag"))
    val tags = spark.sql(
      "SELECT count(*) AS total, count(tag) AS tagged " +
        "FROM gcat.events").as[(Long, Long)].head()
    assert(tags == ((61L, 1L)))
  }

  test("read-only: INSERT/CREATE/DROP refuse; MoR and renamed " +
      "stores serve SQL through the effective scan, hash-equal to " +
      "Snapshots.read; VERSION AS OF still works across them") {
    Snapshots.create(spark, s"$root/guard",
      (1L to 20L).map(i => (i, s"b$i")).toDF("id", "body"),
      nFiles = 2)
    val eDrop = intercept[Exception] {
      spark.sql("DROP TABLE gcat.guard")
    }
    assert(eDrop.getMessage.contains("has history"))
    // MoR delete: SQL must see the EFFECTIVE rows (no resurrection)
    Snapshots.deleteWhereMor(spark, s"$root/guard", LongRange("id", 1L, 2L))
    assert(spark.sql("SELECT count(*) AS n FROM gcat.guard")
      .as[Long].head() == 18L)
    assert(spark.sql(
      "SELECT count(*) AS n FROM gcat.guard WHERE id <= 5")
      .as[Long].head() == 3L)
    // ... and a rename stacked on top: logical names, same rows
    Snapshots.renameColumn(spark, s"$root/guard", "id", "doc_id")
    val viaSql = spark.sql(
      "SELECT doc_id, body FROM gcat.guard ORDER BY doc_id")
      .collect().toSeq
    val viaApi = Snapshots.read(spark, s"$root/guard")
      .orderBy("doc_id").collect().toSeq
    assert(viaSql == viaApi, "SQL and Snapshots.read disagree")
    assert(spark.sql(
      "SELECT sum(doc_id) AS s FROM gcat.guard WHERE doc_id >= 10")
      .as[Long].head() == (10L to 20L).sum)
    // the effective path is visible in the table properties
    val props = spark.sql("SHOW TBLPROPERTIES gcat.guard").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // SparkSpec installs GraftExtensions, so the effective scan is
    // the optimizer-inlined native plan, not the V1 bridge
    assert(props("graft.scan") == "effective-inline")
    // and the plan proves it: no ExistingRDD (V1 bridge) anywhere
    // under the SQL scan of the MoR+renamed store
    val eff = spark.sql("SELECT doc_id, body FROM gcat.guard")
    assert(!eff.queryExecution.executedPlan.toString
      .contains("ExistingRDD"),
      "effective SQL scan still rides the V1 RDD bridge:\n" +
        eff.queryExecution.executedPlan)
    // ... and the inlined plan is the NATIVE columnar parquet scan
    // (the V1 bridge produced an ExistingRDD, never a Batched file
    // scan), with whole-stage codegen in the executed adaptive plan
    assert(eff.queryExecution.executedPlan.toString
      .contains("Batched: true"),
      "inlined effective scan is not columnar:\n" +
        eff.queryExecution.executedPlan)
    eff.collect() // finalize AQE so codegen spans materialize
    assert(eff.queryExecution.executedPlan.toString.contains("*("),
      "inlined effective scan lost whole-stage codegen (no *(n) " +
        s"span):\n${eff.queryExecution.executedPlan}")
    // time travel across the stack: v1 = pre-delete, pre-rename
    assert(spark.sql(
      "SELECT count(*) AS n FROM gcat.guard VERSION AS OF 1")
      .as[Long].head() == 20L)
    assert(spark.sql(
      "SELECT sum(id) AS s FROM gcat.guard VERSION AS OF 1")
      .as[Long].head() == (1L to 20L).sum)
  }

  test("tag-addressable time travel: VERSION AS OF '<tag>' resolves " +
      "through the manifest refs; unknown tags refuse loudly") {
    Snapshots.create(spark, s"$root/tagged",
      (1L to 10L).map(i => (i, i)).toDF("id", "v"), nFiles = 1)
    Snapshots.setTag(spark, s"$root/tagged", "train-2026-08", 1)
    Snapshots.append(spark, s"$root/tagged",
      (11L to 30L).map(i => (i, i)).toDF("id", "v"))
    assert(spark.sql("SELECT count(*) AS n FROM gcat.tagged")
      .as[Long].head() == 30L)
    assert(spark.sql("SELECT count(*) AS n FROM gcat.tagged " +
      "VERSION AS OF 'train-2026-08'").as[Long].head() == 10L)
    val err = intercept[Exception] {
      spark.sql("SELECT * FROM gcat.tagged VERSION AS OF 'nope'")
        .collect()
    }
    assert(err.getMessage.contains("nope"))
  }

  test("SQL writes ride the manifest layer: INSERT INTO appends a " +
      "version with CDC; constraints refuse; OVERWRITE replaces; " +
      "pinned resolutions and DDL stay read-only") {
    Snapshots.create(spark, s"$root/w",
      (1L to 10L).map(i => (i, i * 2)).toDF("id", "v"), nFiles = 1)
    Snapshots.addConstraint(spark, s"$root/w", "v_pos", "v > 0")
    val v1 = Snapshots.latest(spark, s"$root/w")
    spark.sql("INSERT INTO gcat.w VALUES (11, 22), (12, 24)")
    val v2 = Snapshots.latest(spark, s"$root/w")
    assert(v2 == v1 + 1 &&
      Snapshots.snap(spark, s"$root/w", v2).op == "append")
    assert(spark.sql("SELECT count(*) AS n FROM gcat.w")
      .as[Long].head() == 12L)
    // the CDC feed sees the SQL insert like any append
    assert(Snapshots.changes(spark, s"$root/w", "id", v1, v2)
      .filter(col("_change") === "insert").count() == 2L)
    // CHECK constraints guard SQL writes too, naming the constraint
    val e = intercept[Exception] {
      spark.sql("INSERT INTO gcat.w VALUES (13, -5)")
    }
    assert(e.getMessage.contains("v_pos"), s"got: ${e.getMessage}")
    assert(Snapshots.latest(spark, s"$root/w") == v2,
      "refused insert must not commit")
    // INSERT OVERWRITE = Snapshots.overwrite (old versions readable)
    spark.sql("INSERT OVERWRITE gcat.w VALUES (100, 1), (101, 2)")
    assert(spark.sql("SELECT count(*) AS n FROM gcat.w")
      .as[Long].head() == 2L)
    assert(spark.sql(
      s"SELECT count(*) AS n FROM gcat.w VERSION AS OF $v2")
      .as[Long].head() == 12L)
    // a pinned resolution refuses writes
    val e2 = intercept[Exception] {
      spark.sql("INSERT INTO gcat.w VERSION AS OF 1 VALUES (1, 1)")
    }
    // (Spark may reject time-travel INSERT at analysis or our gate
    // fires — either way it must not commit)
    assert(Snapshots.read(spark, s"$root/w").count() == 2L)
    // INSERT into a MoR + renamed store goes through append with the
    // colmap intact and is visible through the effective scan
    Snapshots.create(spark, s"$root/wm",
      (1L to 10L).map(i => (i, i)).toDF("id", "n"), nFiles = 1)
    Snapshots.deleteWhereMor(spark, s"$root/wm", LongRange("id", 1L, 2L))
    Snapshots.renameColumn(spark, s"$root/wm", "n", "num")
    spark.sql("INSERT INTO gcat.wm VALUES (21, 210)")
    assert(spark.sql(
      "SELECT sum(num) AS sn FROM gcat.wm WHERE id >= 20")
      .as[Long].head() == 210L)
    assert(Snapshots.read(spark, s"$root/wm")
      .filter(col("id") === 21L).select("num").as[Long].head() == 210L)
  }

  test("DELETE FROM rides the copy-on-write predicate delete: only " +
      "containing files rewrite, CDC sees deletions, NULL survives, " +
      "untranslatable predicates refuse") {
    Snapshots.create(spark, s"$root/d",
      ((1L to 20L).map(i => (i, Some(i * 2))) :+ (21L, None))
        .toDF("id", "v"), nFiles = 4)
    val v1 = Snapshots.latest(spark, s"$root/d")
    val before = Snapshots.snap(spark, s"$root/d", v1).files.toSet
    spark.sql("DELETE FROM gcat.d WHERE id >= 1 AND id <= 3")
    val v2 = Snapshots.latest(spark, s"$root/d")
    assert(v2 == v1 + 1 &&
      Snapshots.snap(spark, s"$root/d", v2).op == "delete")
    assert(spark.sql("SELECT count(*) AS n FROM gcat.d")
      .as[Long].head() == 18L)
    // COW at file granularity: some of the four files survive
    val after = Snapshots.snap(spark, s"$root/d", v2).files.toSet
    assert(after.intersect(before).nonEmpty,
      "predicate delete rewrote every file")
    // CDC sees exactly the three deletions
    assert(Snapshots.changes(spark, s"$root/d", "id", v1, v2)
      .filter(col("_change") === "delete").count() == 3L)
    // NULL predicate rows survive (SQL DELETE semantics)
    spark.sql("DELETE FROM gcat.d WHERE v < 10")
    assert(spark.sql(
      "SELECT count(*) AS n FROM gcat.d WHERE v IS NULL")
      .as[Long].head() == 1L)
    // a no-match delete commits nothing
    val vNow = Snapshots.latest(spark, s"$root/d")
    spark.sql("DELETE FROM gcat.d WHERE id > 1000000")
    assert(Snapshots.latest(spark, s"$root/d") == vNow)
  }

  test("metadata tables: $history/$tags/$txns resolve per store, " +
      "re-derived each query") {
    Snapshots.create(spark, s"$root/m",
      (1L to 10L).map(i => (i, i)).toDF("id", "v"), nFiles = 1)
    Snapshots.setTag(spark, s"$root/m", "gold", 1)
    Snapshots.append(spark, s"$root/m",
      Seq((11L, 11L)).toDF("id", "v"))
    val hist = spark.sql(
      "SELECT version, op, n_added FROM gcat.`m$history` " +
        "ORDER BY version").collect()
    assert(hist.length == 2 &&
      hist(0).getString(1) == "create" &&
      hist(1).getString(1) == "append" &&
      hist(1).getLong(2) >= 1L)
    assert(spark.sql("SELECT name, version FROM gcat.`m$tags`")
      .as[(String, Int)].collect().toSeq == Seq(("gold", 1)))
    assert(spark.sql("SELECT count(*) AS n FROM gcat.`m$txns`")
      .as[Long].head() == 0L)
    // re-derived: a new commit shows up without re-resolving anything
    Snapshots.append(spark, s"$root/m",
      Seq((12L, 12L)).toDF("id", "v"))
    assert(spark.sql(
      "SELECT count(*) AS n FROM gcat.`m$history`")
      .as[Long].head() == 3L)
    // an unknown '$' suffix is NOT claimed by the metadata layer:
    // resolution falls through to a real store of that exact name
    // (none here), so the error is a plain table-not-found — a
    // store legitimately NAMED with '$' stays reachable
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM gcat.`m$bogus`").collect()
    }
    assert(e.getMessage.contains("cannot be found"),
      s"got ${e.getMessage}")
  }

  test("$changes metadata table: the full-history CDC feed over " +
      "SQL, keyed by the bloom-sidecar convention; keyless stores " +
      "refuse with the setup named") {
    Snapshots.create(spark, s"$root/chg",
      (1L to 20L).map(i => (i, i * 10)).toDF("id", "v"), nFiles = 2)
    // keyless: refuse loudly, naming the convention
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM gcat.`chg$changes`").collect()
    }
    assert(e.getMessage.contains("key-bloom"), e.getMessage)
    Snapshots.indexBloom(spark, s"$root/chg", Seq("id"))
    Snapshots.upsert(spark, s"$root/chg",
      Seq((3L, 333L, false), (21L, 210L, false), (5L, 0L, true))
        .toDF("id", "v", "del"), "id", deleteCol = Some("del"))
    val feed = spark.sql(
      "SELECT id, v, _change, _commit_version FROM gcat.`chg$changes`")
      .as[(Long, Long, String, Long)].collect().toSeq
    assert(feed.count(_._4 == 1L) == 20 &&
      feed.filter(_._4 == 1L).forall(_._3 == "insert"))
    assert(feed.filter(_._4 == 2L).map(r => (r._1, r._3)).sorted ==
      Seq((3L, "update"), (5L, "delete"), (21L, "insert")))
    // SQL composes over the feed like any table
    assert(spark.sql(
      "SELECT count(*) AS n FROM gcat.`chg$changes` " +
        "WHERE _change = 'delete'").as[Long].head() == 1L)
  }

  test("$changes version-range scoping: changesRange builds ONLY " +
      "the range's legs (plan-asserted), the SQL WHERE pushes into " +
      "the scan, and keyCol/startingVersion/endingVersion read " +
      "options work on bloomless stores") {
    val url = s"$root/chgrange"
    Snapshots.create(spark, url,
      (1L to 10L).map(i => (i, i)).toDF("id", "v"), nFiles = 1)
    (1 to 7).foreach(k => Snapshots.upsert(spark, url,
      Seq((k.toLong, k * 100L)).toDF("id", "v"), "id")) // v2..v8
    def legs(df: org.apache.spark.sql.DataFrame): Seq[Long] = df
      .queryExecution.analyzed.collect {
        case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
          p.projectList.collect {
            case a: org.apache.spark.sql.catalyst.expressions.Alias
                if a.name == "_commit_version" =>
              a.child match {
                case org.apache.spark.sql.catalyst.expressions
                    .Literal(v: Long, _) => Some(v)
                case _ => None
              }
          }.flatten
      }.flatten.distinct.sorted
    val ranged = Snapshots.changesRange(spark, url, "id",
      Some(3), Some(5))
    assert(legs(ranged) == Seq(3L, 4L, 5L),
      s"range plan must carry exactly its legs, got ${legs(ranged)}")
    assert(legs(Snapshots.changesAll(spark, url, "id"))
      == (1L to 8L), "full feed carries every version's leg")
    // the range feed IS the full feed's version filter
    val full = Snapshots.changesAll(spark, url, "id")
      .filter(col("_commit_version").between(3, 5))
      .select("id", "v", "_change", "_commit_version")
      .as[(Long, Long, String, Long)].collect().toSeq.sorted
    assert(ranged.select("id", "v", "_change", "_commit_version")
      .as[(Long, Long, String, Long)].collect().toSeq.sorted == full)
    // read options on a BLOOMLESS store: explicit key + range
    val opt = spark.read
      .option("keyCol", "id").option("startingVersion", "3")
      .option("endingVersion", "5").table("gcat.`chgrange$changes`")
      .select("id", "v", "_change", "_commit_version")
      .as[(Long, Long, String, Long)].collect().toSeq.sorted
    assert(opt == full, "option-scoped feed must equal the filter")
    // SQL: the WHERE range prunes legs inside the scan (correctness
    // asserted here; the residual filter re-applies regardless)
    Snapshots.indexBloom(spark, url, Seq("id"))
    val sql = spark.sql(
      "SELECT id, v, _change, _commit_version FROM " +
        "gcat.`chgrange$changes` " +
        "WHERE _commit_version BETWEEN 3 AND 5 AND id <= 100")
      .as[(Long, Long, String, Long)].collect().toSeq.sorted
    assert(sql == full, "SQL range feed must equal the filter")
    // an out-of-history range is empty, not an error
    assert(spark.sql("SELECT * FROM gcat.`chgrange$changes` " +
      "WHERE _commit_version > 90").count() == 0L)
  }

  test("DDL lifecycle: CREATE TABLE + CTAS ride Snapshots.create; " +
      "ALTER RENAME/DROP COLUMN are metadata-only commits; DROP " +
      "only removes an empty just-created store") {
    spark.sql("CREATE TABLE gcat.ddl (id BIGINT, v BIGINT, x BIGINT)")
    assert(Snapshots.latest(spark, s"$root/ddl") == 1)
    spark.sql("INSERT INTO gcat.ddl VALUES (1, 10, 5), (2, 20, 6)")
    spark.sql("ALTER TABLE gcat.ddl RENAME COLUMN v TO val")
    // metadata-only: no data files moved by the rename commit
    val vr = Snapshots.latest(spark, s"$root/ddl")
    assert(Snapshots.snap(spark, s"$root/ddl", vr).op
      .startsWith("rename:"))
    assert(spark.sql("SELECT sum(val) AS sv FROM gcat.ddl")
      .as[Long].head() == 30L)
    spark.sql("ALTER TABLE gcat.ddl DROP COLUMN x")
    assert(spark.sql("SELECT * FROM gcat.ddl").columns.toSeq ==
      Seq("id", "val"))
    // writes after the rename keep the stable physical schema
    spark.sql("INSERT INTO gcat.ddl VALUES (3, 30)")
    assert(spark.sql("SELECT sum(val) AS sv FROM gcat.ddl")
      .as[Long].head() == 60L)
    // CTAS: create + write through the same layer
    spark.sql("CREATE TABLE gcat.ctas AS " +
      "SELECT id, val * 2 AS dbl FROM gcat.ddl")
    assert(spark.sql("SELECT sum(dbl) AS s FROM gcat.ctas")
      .as[Long].head() == 120L)
    assert(Snapshots.versions(spark, s"$root/ctas").nonEmpty)
    // DROP refuses once a store has real history
    val e = intercept[Exception] {
      spark.sql("DROP TABLE gcat.ctas")
    }
    assert(e.getMessage.contains("has history"), s"got ${e.getMessage}")
    // ... but removes an empty just-created one (the CTAS-cleanup
    // shape)
    spark.sql("CREATE TABLE gcat.scratch (a BIGINT)")
    spark.sql("DROP TABLE gcat.scratch")
    assert(Snapshots.versions(spark, s"$root/scratch").isEmpty)
    // unsupported alterations refuse
    intercept[Exception] {
      spark.sql("ALTER TABLE gcat.ddl ALTER COLUMN id TYPE INT")
    }
  }

  test("CALL procedures: maintenance rides SQL — compact, set_tag, " +
      "vacuum, recover_txns, maintain return result rows") {
    Snapshots.create(spark, s"$root/proc",
      (1L to 30L).map(i => (i, i)).toDF("id", "v"), nFiles = 1)
    (1 to 3).foreach(k => Snapshots.append(spark, s"$root/proc",
      Seq((30L + k, 1L)).toDF("id", "v"), nFiles = 1))
    assert(spark.sql("CALL gcat.recover_txns('proc')")
      .as[Long].head() == 0L)
    val vComp = spark.sql("CALL gcat.compact('proc', 1)")
      .as[Long].head()
    assert(vComp == Snapshots.latest(spark, s"$root/proc").toLong &&
      Snapshots.snap(spark, s"$root/proc", vComp.toInt).op == "compact")
    assert(spark.sql("CALL gcat.set_tag('proc', 'gold', 1)")
      .collect().head.getString(0) == "gold")
    val vac = spark.sql(
      s"CALL gcat.vacuum('proc', $vComp, 0)").collect().head
    assert(vac.getLong(1) > 0L, "vacuum must retire manifests")
    // the tag pin survived the CALLed vacuum
    assert(Snapshots.readTag(spark, s"$root/proc", "gold")
      .count() == 30L)
    // footer-priced COUNT(*) as a procedure (-1 = head)
    assert(spark.sql("CALL gcat.row_count('proc', -1)")
      .as[Long].head() ==
      Snapshots.read(spark, s"$root/proc").count())
    // warehouse-wide maintain returns one row per store
    val rep = spark.sql("CALL gcat.maintain(1, 0, 1)")
      .select("store").as[String].collect().toSet
    assert(rep.contains("proc"))
    // DESCRIBE DETAIL as a procedure: one row of operational truth
    val det = spark.sql("CALL gcat.detail('proc')").collect().head
    assert(det.getLong(0) == Snapshots.latest(spark, s"$root/proc")
      .toLong && det.getLong(4) ==
      Snapshots.read(spark, s"$root/proc").count() &&
      det.getLong(5) > 0L)
    assert(!det.getBoolean(6) && !det.getBoolean(7),
      "proc store has no sidecars yet")
    // refresh_sidecars reports which conventions the store keeps
    Snapshots.indexStats(spark, s"$root/proc", Seq("id"))
    val rs = spark.sql("CALL gcat.refresh_sidecars('proc')")
      .collect().head
    assert(rs.getBoolean(0) && !rs.getBoolean(1))
    assert(spark.sql("CALL gcat.detail('proc')").collect()
      .head.getBoolean(6))
    // unknown procedure refuses (Spark wraps the loud message in
    // FAILED_TO_LOAD_ROUTINE; the cause names the real procedures)
    val e = intercept[Exception] {
      spark.sql("CALL gcat.nope('x')")
    }
    assert(e.getMessage.contains("nope"), s"got ${e.getMessage}")
  }

  test("SQL UPDATE rides the copy-on-write predicate update: only " +
      "containing files rewrite, constraints and upcasts apply, CDC " +
      "sees updates, renamed/MoR stores work") {
    Snapshots.create(spark, s"$root/u",
      (1L to 40L).map(i => (i, i, s"g${i % 3}")).toDF("id", "v", "g"),
      nFiles = 4, clusterBy = Some("id"))
    Snapshots.addConstraint(spark, s"$root/u", "v_pos", "v > 0")
    val v1 = Snapshots.latest(spark, s"$root/u")
    val before = Snapshots.snap(spark, s"$root/u", v1).files.toSet
    // the 5 literal is INT → safe upcast to the BIGINT column
    spark.sql("UPDATE gcat.u SET v = v + 5 WHERE id <= 10")
    val v2 = Snapshots.latest(spark, s"$root/u")
    assert(v2 == v1 + 1 &&
      Snapshots.snap(spark, s"$root/u", v2).op == "update")
    assert(Snapshots.snap(spark, s"$root/u", v2).files.toSet
      .intersect(before).nonEmpty, "UPDATE rewrote every file")
    assert(spark.sql("SELECT sum(v) AS s FROM gcat.u")
      .as[Long].head() == (1L to 40L).sum + 50L)
    assert(Snapshots.changes(spark, s"$root/u", "id", v1, v2)
      .filter(col("_change") === "update").count() == 10L)
    // constraints guard SQL updates
    val e = intercept[Exception] {
      spark.sql("UPDATE gcat.u SET v = -1 WHERE id = 3")
    }
    assert(e.getMessage.contains("v_pos"), s"got ${e.getMessage}")
    assert(Snapshots.latest(spark, s"$root/u") == v2)
    // a no-match update commits nothing
    spark.sql("UPDATE gcat.u SET v = 0 WHERE id > 100000")
    assert(Snapshots.latest(spark, s"$root/u") == v2)
    // multi-column SET with a string expression; renamed store
    // (the g column moves — v is pinned by its constraint)
    Snapshots.renameColumn(spark, s"$root/u", "g", "grp")
    spark.sql(
      "UPDATE gcat.u SET v = v * 2, grp = concat(grp, '!') " +
        "WHERE id BETWEEN 20 AND 22")
    val now = Snapshots.read(spark, s"$root/u")
    assert(now.filter(col("id") === 21L)
      .select("v").as[Long].head() == 42L)
    assert(now.filter(col("id") === 21L)
      .select("grp").as[String].head().endsWith("!"))
    // MoR store: updates apply to EFFECTIVE rows
    Snapshots.deleteWhereMor(spark, s"$root/u", LongRange("id", 30L, 35L))
    spark.sql("UPDATE gcat.u SET v = 1 WHERE id >= 30")
    val eff = Snapshots.read(spark, s"$root/u")
    assert(eff.filter(col("id") >= 30L && col("v") =!= 1L).isEmpty)
    assert(eff.filter(col("id").between(30L, 35L)).isEmpty,
      "UPDATE resurrected MoR-deleted rows")
  }

  test("MERGE INTO translates the classic upsert and delete-matched " +
      "shapes to Snapshots.upsert; other shapes refuse loudly") {
    Snapshots.create(spark, s"$root/m2",
      (1L to 20L).map(i => (i, i * 10)).toDF("id", "v"), nFiles = 2)
    Seq((5L, 555L), (21L, 210L), (22L, 220L))
      .toDF("id", "v").createOrReplaceTempView("m2_src")
    val v1 = Snapshots.latest(spark, s"$root/m2")
    spark.sql(
      """MERGE INTO gcat.m2 AS t USING m2_src AS s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val v2 = Snapshots.latest(spark, s"$root/m2")
    assert(v2 == v1 + 1 &&
      Snapshots.snap(spark, s"$root/m2", v2).op == "upsert")
    val now = Snapshots.read(spark, s"$root/m2")
    assert(now.count() == 22L)
    assert(now.filter(col("id") === 5L).select("v")
      .as[Long].head() == 555L)
    assert(now.filter(col("id") === 21L).select("v")
      .as[Long].head() == 210L)
    // CDC sees the merge like any upsert
    assert(Snapshots.changes(spark, s"$root/m2", "id", v1, v2)
      .filter(col("_change") === "insert").count() == 2L)
    // delete-matched: tombstone the source's keys (missing keys
    // no-op instead of inserting)
    Seq(1L, 2L, 999L).toDF("id").createOrReplaceTempView("m2_del")
    spark.sql(
      """MERGE INTO gcat.m2 AS t USING m2_del AS s ON t.id = s.id
        |WHEN MATCHED THEN DELETE""".stripMargin)
    val afterDel = Snapshots.read(spark, s"$root/m2")
    assert(afterDel.count() == 20L)
    assert(afterDel.filter(col("id").isin(1L, 2L)).isEmpty)
    // matched-only partial SET translates since r18
    // (GraftMergeCondCommand): only matched keys update, v = s.v+1
    spark.sql(
      """MERGE INTO gcat.m2 AS t USING m2_src AS s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v + 1""".stripMargin)
    val afterUp = Snapshots.read(spark, s"$root/m2")
    assert(afterUp.count() == 20L)
    assert(afterUp.filter(col("id") === 21L).select("v")
      .as[Long].head() == 211L)
    // MULTIPLE matched clauses translate since late r18 with
    // first-match-wins: v>300 rows re-update, the rest delete
    spark.sql(
      """MERGE INTO gcat.m2 AS t USING m2_src AS s ON t.id = s.id
        |WHEN MATCHED AND t.v > 300 THEN UPDATE SET v = s.v
        |WHEN MATCHED THEN DELETE""".stripMargin)
    val afterMulti = Snapshots.read(spark, s"$root/m2")
    assert(afterMulti.count() == 18L)
    assert(afterMulti.filter(col("id") === 5L).select("v")
      .as[Long].head() == 555L)
    assert(afterMulti.filter(col("id").isin(21L, 22L)).isEmpty)
  }

  test("MERGE INTO composes with column mapping and refuses the " +
      "untranslatable clause set by name") {
    Snapshots.create(spark, s"$root/m3",
      (1L to 10L).map(i => (i, i)).toDF("id", "n"), nFiles = 1)
    Snapshots.renameColumn(spark, s"$root/m3", "n", "num")
    Seq((3L, 333L), (11L, 110L)).toDF("id", "num")
      .createOrReplaceTempView("m3_src")
    spark.sql(
      """MERGE INTO gcat.m3 AS t USING m3_src AS s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val now = Snapshots.read(spark, s"$root/m3")
    assert(now.count() == 11L)
    assert(now.filter(col("id") === 3L).select("num")
      .as[Long].head() == 333L)
    // the full matrix (incl. NOT MATCHED BY SOURCE) composes with
    // the column map since r18: non-matched keys delete, the
    // matched key re-updates, the insert twin re-lands
    spark.sql(
      """MERGE INTO gcat.m3 AS t USING m3_src AS s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    val afterMatrix = Snapshots.read(spark, s"$root/m3")
    assert(afterMatrix.select(col("id"), col("num"))
      .as[(Long, Long)].collect().sorted.toSeq ==
      Seq((3L, 333L), (11L, 110L)))
    // a non-equality merge condition refuses
    val e2 = intercept[Exception] {
      spark.sql(
        """MERGE INTO gcat.m3 AS t USING m3_src AS s
          |ON t.id = s.id + 1
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(e2.getMessage.contains("equality"), s"got ${e2.getMessage}")
  }
}
