package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The SQL-text face of the table format (plans/GraftSql): every verb
  * driven purely through spark.sql(...) on a session built with
  * GraftExtensions, checked against the Scala-face ground truth. */
class SqlFaceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def freshTable(nBuckets: Int): String = {
    val spark0 = spark
    import spark0.implicits._
    val dir = Files.createTempDirectory("graft_sqlface").toString
    val root = s"$dir/t"
    val df = (0L until 300L).map(i => (i, s"t$i", i % 7)).toDF("id", "text", "grp")
    graft.operators.TableLog.commit(spark, root,
      graft.operators.TableLog.stageBucketed(df, root, "base", "id", nBuckets),
      Nil)
    root
  }

  test("graft_table TVF: latest read, VERSION AS OF, TIMESTAMP AS OF, " +
      "and plain SQL composes over it") {
    val root = freshTable(4)
    val spark0 = spark
    import spark0.implicits._
    // append a second version through the Scala face
    graft.operators.TableLog.commit(spark, root,
      graft.operators.TableLog.stageWrite(
        Seq((1000L, "x", 0L)).toDF("id", "text", "grp").coalesce(1),
        root, "b"), Nil)
    assert(spark.sql(s"SELECT count(*) AS n FROM graft_table('$root')")
      .head().getLong(0) === 301L)
    assert(spark.sql(s"SELECT count(*) AS n FROM graft_table('$root', 0)")
      .head().getLong(0) === 300L)
    // negative version = latest (the 3-arg idCol form's escape)
    assert(spark.sql(s"SELECT count(*) FROM graft_table('$root', -1)")
      .head().getLong(0) === 301L)
    // timestamp travel: the v0 commit file's own mtime resolves to v0
    val v0ts = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(root, "_log", "00000000000000000000.json"))
      .toInstant
    assert(spark.sql(
      s"SELECT count(*) FROM graft_table_at('$root', '$v0ts')")
      .head().getLong(0) === 300L)
    // ordinary SQL shapes compose: joins, filters, aggregation
    val g = spark.sql(
      s"""SELECT grp, count(*) AS n FROM graft_table('$root', 0)
          WHERE id < 100 GROUP BY grp ORDER BY grp""").collect()
    assert(g.length === 7 && g.map(_.getLong(1)).sum === 100L)
    // non-graft SQL still parses through the delegate untouched
    assert(spark.sql("SELECT 1 + 1").head().getInt(0) === 2)
  }

  test("MERGE INTO / DELETE FROM BETWEEN / DESCRIBE HISTORY / OPTIMIZE " +
      "ZORDER / RESTORE drive the table purely through spark.sql") {
    val spark0 = spark
    import spark0.implicits._
    val root = freshTable(4)
    val tl = graft.operators.TableLog
    // MERGE from a temp view: 50 updates + 10 inserts
    ((100L until 150L).map(i => (i, s"UPD$i", i % 7)) ++
      (2000L until 2010L).map(i => (i, s"NEW$i", 0L)))
      .toDF("id", "text", "grp").createOrReplaceTempView("merge_src")
    val vMerge = spark.sql(
      s"""MERGE INTO graft.`$root` USING merge_src ON id BUCKETS 4
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *""").head().getLong(0)
    assert(vMerge === 1L)
    val afterMerge = tl.snapshot(spark, root, None, Some("id"))
    assert(afterMerge.count() === 310L)
    assert(afterMerge.filter(col("text").startsWith("UPD")).count() === 50L)
    // MERGE from a subquery source
    spark.sql(
      s"""MERGE INTO graft.`$root`
          USING (SELECT id, 'SUBQ' AS text, grp FROM merge_src WHERE id >= 2005)
          ON id BUCKETS 4
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *""")
    assert(tl.snapshot(spark, root, None, Some("id"))
      .filter(col("text") === "SUBQ").count() === 5L)
    // DELETE ... BETWEEN (long literals)
    val vDel = spark.sql(
      s"DELETE FROM graft.`$root` WHERE id BETWEEN 200 AND 249")
      .head().getLong(0)
    val afterDel = tl.snapshot(spark, root, None, Some("id"))
    assert(afterDel.count() === 260L)
    assert(afterDel.filter(col("id").between(200L, 249L)).count() === 0L)
    // OPTIMIZE ... CLUSTER BY two dims = Z-ORDER; folds the delete
    val vOpt = spark.sql(
      s"OPTIMIZE graft.`$root` KEY id CLUSTER BY (id, grp) PARTS 4")
      .head().getLong(0)
    assert(vOpt > vDel)
    assert(tl.activeDeletes(spark, root).isEmpty,
      "OPTIMIZE must fold the delete sidecars")
    assert(tl.snapshot(spark, root).count() === 260L)
    // DESCRIBE HISTORY: the ledger names the SQL-driven operations
    val ops = spark.sql(s"DESCRIBE HISTORY graft.`$root`")
      .select("operation").as[String].collect().toSeq
    assert(ops.count(_ == "MERGE") === 2, s"ops were $ops")
    assert(ops.contains("DELETE_WHERE") && ops.contains("OPTIMIZE"))
    // RESTORE back to the post-first-merge state
    spark.sql(s"RESTORE graft.`$root` TO VERSION AS OF 1")
    assert(tl.snapshot(spark, root, None, Some("id")).count() === 310L)
    // the composable history TVF: filter the ledger like any relation
    assert(spark.sql(s"SELECT count(*) FROM graft_table_history('$root') " +
      "WHERE operation = 'MERGE'").head().getLong(0) === 2L)
    // the CDC read as SQL (BEFORE the vacuum below reclaims v0):
    // version 1's delta was the first MERGE — 50 updates + 10 inserts
    val chg = spark.sql(
      s"SELECT * FROM graft_table_changes('$root', 0, 1, 'id')")
    assert(chg.count() === 60L)
    assert(chg.filter(col("status") === "added").count() === 10L)
    assert(chg.filter(col("status") === "changed").count() === 50L)
    // VACUUM: DRY RUN lists the pre-restore generations' doomed files
    // without touching them; the real run reclaims exactly that list
    // and the retained head still reads
    val latest = tl.versions(spark, root).last
    val dry = spark.sql(
      s"VACUUM graft.`$root` RETAIN VERSION AS OF $latest DRY RUN")
      .collect().map(_.getString(0)).toSet
    assert(dry.nonEmpty, "the superseded generations must be reclaimable")
    assert(dry.forall(p => new java.io.File(s"$root/$p").exists()),
      "DRY RUN must delete nothing")
    val real = spark.sql(
      s"VACUUM graft.`$root` RETAIN VERSION AS OF $latest")
      .collect().map(_.getString(0)).toSet
    assert(real === dry, "the real run must reclaim the dry-run list")
    assert(dry.forall(p => !new java.io.File(s"$root/$p").exists()),
      "VACUUM must reclaim the listed files")
    assert(tl.snapshot(spark, root, None, Some("id")).count() === 310L,
      "the retained head must still read after VACUUM")
    // ... and a CDC read BELOW the vacuum horizon fails loudly (the
    // lag-past-retention contract), never silently under-reads
    intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_table_changes('$root', 0, 1, 'id')")
        .count()
    }
    // malformed graft statements fail with the grammar hint, not a
    // confusing delegate parse error
    val err = intercept[RuntimeException] {
      spark.sql(s"OPTIMIZE graft.`$root` CLUSTER BY id")
    }
    assert(err.getMessage.contains("GraftSql"))
  }

  test("DELETE FROM accepts typed literals: the conventional SQL " +
      "TIMESTAMP spelling (space-separated, UTC) and DATE") {
    val spark0 = spark
    import spark0.implicits._
    val dir = Files.createTempDirectory("graft_sqlface_ts").toString
    val root = s"$dir/t"
    val tl = graft.operators.TableLog
    // 200 hourly events starting 2024-01-01T00:00Z, clustered on ts
    val df = (0L until 200L)
      .map(i => (i, java.sql.Timestamp.from(
        java.time.Instant.parse("2024-01-01T00:00:00Z")
          .plusSeconds(i * 3600))))
      .toDF("id", "ts")
    val (files, zm) = tl.stageWithZoneMap(df, root, "base", "ts", 4)
    tl.commit(spark, root, files, Nil, zmap = zm)
    // the standard SQL spelling — pre-fix this threw
    // DateTimeParseException (Instant.parse wants ISO-8601 with zone)
    spark.sql(s"DELETE FROM graft.`$root` WHERE ts " +
      "BETWEEN TIMESTAMP '2024-01-02 00:00:00' " +
      "AND TIMESTAMP '2024-01-03 23:00:00'")
    val left = tl.snapshot(spark, root)
    assert(left.count() === 152L, "48 hourly rows must purge")
    assert(left.filter(col("ts")
      .between("2024-01-02 00:00:00", "2024-01-03 23:00:00"))
      .count() === 0L)
    // the ISO form still parses
    spark.sql(s"DELETE FROM graft.`$root` WHERE ts " +
      "BETWEEN TIMESTAMP '2024-01-01T00:00:00Z' " +
      "AND TIMESTAMP '2024-01-01T05:00:00Z'")
    assert(tl.snapshot(spark, root).count() === 146L)
    // the zero-scan DESCRIBE as SQL: the profile reflects the purged
    // table (boundary rewrites re-declared the key's stats)
    val prof = spark.sql(s"SELECT * FROM graft_table_profile('$root')")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(prof.get("ts") === Some(146L), s"profile was $prof")
  }

  test("catalog-named tables: CREATE TABLE USING tablelog, read by " +
      "name (pruned TableLogFileIndex), transactional INSERT " +
      "INTO/OVERWRITE, and every graft verb by name") {
    val spark0 = spark
    import spark0.implicits._
    val root = freshTable(4)
    val tl = graft.operators.TableLog
    spark.sql(s"CREATE TABLE sqlface_named USING tablelog LOCATION '$root'")
    // the name serves the SAME planner-pruned relation as TableLog.snapshot
    val byName = spark.table("sqlface_named")
    assert(byName.count() === 300L)
    assert(byName.queryExecution.executedPlan.toString
      .contains("TableLogFileIndex"), "name reads must plan the log index")
    // zone-map file skipping INTACT through the name face: a range
    // read of a clustered table opens fewer files than it holds
    // (FileSourceScanExec's numFiles metric — inputFiles is the
    // unpruned listing by contract)
    val zdir = Files.createTempDirectory("graft_sqlface_zn").toString
    val zroot = s"$zdir/t"
    val (zf, zzm) = tl.stageWithZoneMap(
      (0L until 800L).map(i => (i, s"v$i")).toDF("k", "v"), zroot,
      "base", "k", 8)
    tl.commit(spark, zroot, zf, Nil, zmap = zzm)
    spark.sql(s"CREATE TABLE sqlface_zoned USING tablelog LOCATION '$zroot'")
    val zq = spark.table("sqlface_zoned").where("k BETWEEN 0 AND 99")
    // collect through zq ITSELF: metrics live on this plan's scan
    // (a .count() is a different query execution)
    assert(zq.collect().length === 100)
    def numFiles(df: org.apache.spark.sql.DataFrame): Long = {
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case q: QueryStageExec => scans(q.plan)
        case f: FileSourceScanExec => Seq(f)
        case o => (o.children ++ o.subqueries).flatMap(scans)
      }
      scans(df.queryExecution.executedPlan)
        .map(_.metrics("numFiles").value).sum
    }
    assert(numFiles(zq) === 1L,
      s"the name-face range read must prune to 1 of 8 files, " +
        s"opened ${numFiles(zq)}")
    spark.sql("DROP TABLE sqlface_zoned")
    // conditional MERGE by name: clause-gated update, delete, insert
    ((0L until 5L).map(i => (i, s"SRC$i", 99L)) ++
      Seq((70000L, "n", 1L), (70001L, "n2", 998L)))
      .toDF("id", "text", "grp").createOrReplaceTempView("named_src")
    spark.sql("""MERGE INTO sqlface_named USING named_src ON id BUCKETS 4
      WHEN MATCHED AND s.id < 2 THEN UPDATE SET text = s.text
      WHEN MATCHED AND s.id = 3 THEN DELETE
      WHEN NOT MATCHED AND s.grp < 100 THEN INSERT *""")
    val merged = spark.table("sqlface_named") // refreshed, not stale
    assert(merged.where("text LIKE 'SRC%'").count() === 2L)
    assert(merged.where("id = 3").count() === 0L)
    assert(merged.where("id = 2 AND text = 't2'").count() === 1L,
      "a matched row no clause claims keeps its target version")
    assert(merged.where("id >= 70000").count() === 1L,
      "the gated insert must drop the failing source row")
    // UPDATE over a key range by name: touched range rewrites with
    // the SETs applied, untouched rows keep their values
    spark.sql("UPDATE sqlface_named SET text = concat('U_', text), " +
      "grp = grp + 100 WHERE id BETWEEN 10 AND 19")
    assert(spark.table("sqlface_named")
      .where("text LIKE 'U\\_%' AND grp >= 100").count() === 10L)
    assert(spark.table("sqlface_named")
      .where("id = 25 AND text = 't25'").count() === 1L)
    // UPDATE SET on a non-column refuses loudly
    val badSet = intercept[Exception] { spark.sql(
      "UPDATE sqlface_named SET nope = 1 WHERE id BETWEEN 0 AND 1") }
    assert(badSet.getMessage.contains("not a table column"))
    // DELETE / DESCRIBE HISTORY / RESTORE by name
    spark.sql("DELETE FROM sqlface_named WHERE id BETWEEN 200 AND 249")
    assert(spark.table("sqlface_named").where("id BETWEEN 200 AND 249")
      .count() === 0L)
    val ops = spark.sql("DESCRIBE HISTORY sqlface_named")
      .select("operation").as[String].collect().toSeq
    assert(ops.contains("MERGE") && ops.contains("REPLACE_WHERE") &&
      ops.contains("DELETE_WHERE"), s"ops were $ops")
    // INSERT INTO commits through the log (count through the SQL
    // read AND the library face agree; no unlogged files)
    spark.sql("INSERT INTO sqlface_named VALUES (90000, 'ins', 0)")
    assert(spark.table("sqlface_named").where("id = 90000").count() === 1L)
    assert(tl.snapshot(spark, root, None, Some("id"))
      .where(col("id") === 90000L).count() === 1L)
    // column-list INSERT: unnamed columns land NULL
    spark.sql("INSERT INTO sqlface_named (id, text) VALUES (90001, 'p')")
    assert(spark.table("sqlface_named")
      .where("id = 90001 AND grp IS NULL").count() === 1L)
    // INSERT OVERWRITE: the table becomes the frame, atomically,
    // and time travel to the pre-overwrite version still serves
    val vBefore = tl.versions(spark, root).last
    spark.sql("INSERT OVERWRITE TABLE sqlface_named " +
      "SELECT id, text, grp FROM named_src")
    assert(spark.table("sqlface_named").count() === 7L)
    assert(spark.sql(s"SELECT count(*) FROM graft_table('$root', $vBefore)")
      .head().getLong(0) > 7L)
    // an unsupported DML shape on a REAL tablelog table errors with
    // the supported grammar, not a confusing Spark v1 rejection
    val badShape = intercept[Exception] { spark.sql(
      "UPDATE sqlface_named SET text = 'x' WHERE id = 5") }
    assert(badShape.getMessage.contains("GraftSql"))
    // non-tablelog tables keep Spark's own semantics end to end
    spark.sql("CREATE TABLE sqlface_plain (a INT) USING parquet")
    spark.sql("INSERT INTO sqlface_plain VALUES (1)")
    assert(spark.table("sqlface_plain").count() === 1L)
    spark.sql("DROP TABLE sqlface_named")
    spark.sql("DROP TABLE sqlface_plain")
  }

  test("create-then-insert and CTAS: an empty declared-schema table " +
      "reads zero rows, the first INSERT commits v0; USING graft " +
      "aliases the format") {
    val spark0 = spark
    import spark0.implicits._
    val dir = Files.createTempDirectory("graft_sqlface_ct").toString
    // CREATE with a declared schema over a not-yet-committed location
    // (Delta's create-then-insert flow)
    spark.sql("CREATE TABLE ct_empty (id BIGINT, text STRING) " +
      s"USING tablelog LOCATION '$dir/e'")
    assert(spark.table("ct_empty").count() === 0L,
      "an uncommitted table must read as empty, not error")
    spark.sql("INSERT INTO ct_empty VALUES (1, 'a'), (2, 'b')")
    assert(spark.table("ct_empty").count() === 2L)
    // ... and the insert was a real v0 COMMIT, visible to the log face
    assert(graft.operators.TableLog.versions(spark, s"$dir/e") === Seq(0L))
    assert(graft.operators.TableLog.snapshot(spark, s"$dir/e")
      .count() === 2L)
    // CTAS through the CreatableRelationProvider face
    spark.sql(s"CREATE TABLE ct_ctas USING tablelog LOCATION '$dir/c' " +
      "AS SELECT id * 10 AS id, text FROM ct_empty")
    assert(spark.table("ct_ctas").select("id").as[Long].collect().sorted
      === Array(10L, 20L))
    assert(graft.operators.TableLog.versions(spark, s"$dir/c").nonEmpty)
    // the `graft` provider alias is the same implementation
    spark.sql("CREATE TABLE ct_alias (k BIGINT) " +
      s"USING graft LOCATION '$dir/g'")
    spark.sql("INSERT INTO ct_alias VALUES (7)")
    assert(spark.table("ct_alias").head().getLong(0) === 7L)
    assert(graft.operators.TableLog.versions(spark, s"$dir/g") === Seq(0L))
    // graft verbs resolve the aliased provider by name too
    assert(spark.sql("DESCRIBE HISTORY ct_alias").count() === 1L)
    Seq("ct_empty", "ct_ctas", "ct_alias")
      .foreach(t => spark.sql(s"DROP TABLE $t"))
  }

  test("ALTER TABLE ADD COLUMNS: a metadata-only schema widening — " +
      "old rows null-fill, the next INSERT lands values, and the " +
      "path-addressed form works; TRUNCATE TABLE empties as one " +
      "metadata commit with time travel intact") {
    val spark0 = spark
    import spark0.implicits._
    val root = freshTable(2)
    val tbl = "sqlface_alter_t"
    spark.sql(s"CREATE TABLE $tbl USING tablelog LOCATION '$root'")
    // by NAME: widen, old rows null-fill, catalog schema follows
    val v = spark.sql(
      s"ALTER TABLE $tbl ADD COLUMNS (score DOUBLE, tag STRING)")
      .head().getLong(0)
    assert(v === 1L)
    assert(spark.table(tbl).columns.toSeq ===
      Seq("id", "text", "grp", "score", "tag"))
    assert(spark.table(tbl).filter(col("score").isNotNull).count() === 0L)
    assert(spark.sql(s"DESCRIBE $tbl").count() >= 5L,
      "the catalog's declared schema must follow the log's")
    // the widened surface accepts INSERTs with the new columns
    spark.sql(s"INSERT INTO $tbl VALUES (9001, 'n', 1, 0.5, 'fresh')")
    val ins = spark.table(tbl).filter(col("id") === 9001L).head()
    assert(ins.getDouble(3) === 0.5 && ins.getString(4) === "fresh")
    // an existing column refuses loudly — type changes are not ADD
    val e = intercept[Exception](
      spark.sql(s"ALTER TABLE $tbl ADD COLUMNS (text BIGINT)"))
    assert(e.getMessage.contains("already exists"))
    // the path-addressed form drives the same commit
    val root2 = freshTable(2)
    spark.sql(s"ALTER TABLE graft.`$root2` ADD COLUMN (flag BOOLEAN)")
    assert(graft.operators.TableLog.snapshot(spark, root2)
      .columns.contains("flag"))
    // a non-tablelog ALTER falls through to Spark untouched
    spark.sql("CREATE TABLE sqlface_plain_alter (a INT) USING parquet " +
      s"LOCATION '${Files.createTempDirectory("graft_plainalter")}/p'")
    spark.sql("ALTER TABLE sqlface_plain_alter ADD COLUMNS (b STRING)")
    assert(spark.table("sqlface_plain_alter").columns.toSeq ===
      Seq("a", "b"))
    // TRUNCATE: one metadata commit; history and time travel intact
    val nBefore = spark.table(tbl).count()
    assert(nBefore === 301L)
    spark.sql(s"TRUNCATE TABLE $tbl")
    assert(spark.table(tbl).count() === 0L)
    assert(graft.operators.TableLog
      .snapshot(spark, root, asOf = Some(v)).count() === 300L,
      "pre-truncate versions must stay readable")
    // the truncated table still takes writes
    spark.sql(s"INSERT INTO $tbl VALUES (1, 'post', 0, NULL, NULL)")
    assert(spark.table(tbl).count() === 1L)
    Seq(tbl, "sqlface_plain_alter").foreach(t =>
      spark.sql(s"DROP TABLE $t"))
  }

  test("review-pinned semantics: UPDATE SET evaluates every RHS against " +
      "the PRE-update row; CASE WHEN inside MERGE SET parses; named " +
      "reads see path-addressed mutations; fractional TVF bounds and " +
      "case-colliding ADD COLUMNS refuse loudly; the full GraftSource " +
      "class name keeps the transactional INSERT") {
    val spark0 = spark
    import spark0.implicits._
    val root = freshTable(2)
    // UPDATE swap semantics: both RHS see the pre-update row — a
    // sequential withColumn chain would feed grp the UPDATED text
    spark.sql(s"UPDATE graft.`$root` SET text = concat('g', grp), " +
      "grp = length(text) WHERE id BETWEEN 10 AND 11")
    val r10 = graft.operators.TableLog.snapshot(spark, root)
      .filter(col("id") === 10L).head()
    assert(r10.getString(1) === "g3", "text from the ORIGINAL grp (10%7=3)")
    assert(r10.getLong(2) === 3L, "grp from the ORIGINAL text ('t10')")
    // assigning one column twice is ambiguous
    val eDup = intercept[Exception](spark.sql(
      s"UPDATE graft.`$root` SET grp = 1, grp = 2 WHERE id BETWEEN 0 AND 1"))
    assert(eDup.getMessage.contains("more than once"))
    // a named read AFTER a path-addressed mutation must not serve the
    // stale cached relation (fresh root: the UPDATE above re-staged
    // un-bucketed files, and the MERGE below needs the bucketed base)
    val root2 = freshTable(2)
    val tbl = "sqlface_stale_t"
    spark.sql(s"CREATE TABLE $tbl USING tablelog LOCATION '$root2'")
    // CASE WHEN inside a MERGE SET assignment parses (clause split
    // anchors on WHEN [NOT] MATCHED, not any WHEN) — run it on the
    // still-bucketed base, before the DELETE re-stages files
    Seq((100L, "u", 1L)).toDF("id", "text", "grp")
      .createOrReplaceTempView("sqlface_case_src")
    spark.sql(s"""MERGE INTO $tbl USING sqlface_case_src ON id BUCKETS 2
      WHEN MATCHED THEN UPDATE SET
        grp = CASE WHEN s.grp > 0 THEN 99 ELSE 0 END
      WHEN NOT MATCHED THEN INSERT *""")
    assert(spark.table(tbl).filter(col("id") === 100L)
      .head().getLong(2) === 99L)
    val before = spark.table(tbl).count() // warm the relation cache
    assert(before === 300L)
    spark.sql(s"DELETE FROM graft.`$root2` WHERE id BETWEEN 0 AND 99")
    assert(spark.table(tbl).count() === 200L,
      "path-addressed DELETE must invalidate the name's cached relation")
    // fractional bounds refuse instead of silently truncating
    val eFrac = intercept[Exception](spark.sql(
      s"SELECT * FROM graft_table_window_stats('$root2', 'id', 1.9, 9.9, " +
        "'grp')").collect())
    assert(eFrac.getMessage.contains("integer"))
    // case-colliding ADD COLUMNS refuses (the schema would brick
    // every case-insensitive read)
    val eCase = intercept[Exception](spark.sql(
      s"ALTER TABLE $tbl ADD COLUMNS (TEXT BIGINT)"))
    assert(eCase.getMessage.contains("already exists"))
    spark.sql(s"DROP TABLE $tbl")
    // the full GraftSource class name is a recognized provider: the
    // INSERT must commit through the log, not drop unlogged parquet
    val dir2 = Files.createTempDirectory("graft_sqlface_fullname").toString
    spark.sql("CREATE TABLE sqlface_fullname (id BIGINT) " +
      s"USING graft.sources.GraftSource LOCATION '$dir2/t'")
    spark.sql("INSERT INTO sqlface_fullname VALUES (1)")
    assert(graft.operators.TableLog.versions(spark, s"$dir2/t") === Seq(0L),
      "the INSERT must be a logged commit under the full class name too")
    assert(spark.table("sqlface_fullname").count() === 1L)
    spark.sql("DROP TABLE sqlface_fullname")
    // PARTITIONED BY on a tablelog CREATE refuses loudly — Spark's
    // v1 path would silently ignore the spec (unpartitioned files
    // under a catalog claiming otherwise)
    val ePart = intercept[Exception](spark.sql(
      "CREATE TABLE sqlface_part (id BIGINT, day STRING) USING " +
        s"tablelog PARTITIONED BY (day) LOCATION '$dir2/p'"))
    assert(ePart.getMessage.contains("zone-map"))
    // ... while a non-graft PARTITIONED BY CREATE stays Spark's
    spark.sql("CREATE TABLE sqlface_part_pq (id BIGINT, day STRING) " +
      s"USING parquet PARTITIONED BY (day) LOCATION '$dir2/q'")
    spark.sql("DROP TABLE sqlface_part_pq")
    // the clause keywords inside a string LITERAL must not refuse a
    // legal CREATE (literals are blanked before the check)…
    spark.sql("CREATE TABLE sqlface_part_cmt (id BIGINT) USING tablelog " +
      s"COMMENT 'events partitioned by day upstream' LOCATION '$dir2/c'")
    spark.sql("DROP TABLE sqlface_part_cmt")
    // …and a BACKQUOTED provider spelling still refuses
    val ePartBq = intercept[Exception](spark.sql(
      "CREATE TABLE sqlface_part_bq (id BIGINT, day STRING) USING " +
        s"`tablelog` PARTITIONED BY (day) LOCATION '$dir2/b'"))
    assert(ePartBq.getMessage.contains("zone-map"))
  }

  test("TVF root arguments accept catalog names: graft_table('name', v) " +
      "is named time travel; unresolved strings stay paths") {
    val spark0 = spark
    import spark0.implicits._
    val root = freshTable(2)
    spark.sql(s"CREATE TABLE sqlface_tvf_named USING tablelog LOCATION '$root'")
    graft.operators.TableLog.commit(spark, root,
      graft.operators.TableLog.stageWrite(
        Seq((7777L, "x", 0L)).toDF("id", "text", "grp").coalesce(1),
        root, "b"), Nil)
    assert(spark.sql(
      "SELECT count(*) FROM graft_table('sqlface_tvf_named')")
      .head().getLong(0) === 301L)
    assert(spark.sql(
      "SELECT count(*) FROM graft_table('sqlface_tvf_named', 0)")
      .head().getLong(0) === 300L, "named VERSION AS OF")
    assert(spark.sql(
      "SELECT count(*) FROM graft_table_history('sqlface_tvf_named')")
      .head().getLong(0) === 2L)
    // an unresolved name is treated as a path and errors path-shaped
    val e = intercept[Exception](
      spark.sql("SELECT * FROM graft_table('no_such_table_xyz')").collect())
    assert(e.getMessage.contains("no_such_table_xyz"))
    spark.sql("DROP TABLE sqlface_tvf_named")
  }

  test("DESCRIBE DETAIL / ADD CONSTRAINT ... CHECK / DROP CONSTRAINT " +
      "drive the table summary and the constraint lifecycle through " +
      "spark.sql") {
    val spark0 = spark
    import spark0.implicits._
    val root = freshTable(2)
    // one-row summary, path-addressed
    val d0 = spark.sql(s"DESCRIBE DETAIL graft.`$root`").head()
    assert(d0.getString(0) === "tablelog" && d0.getString(1) === root)
    assert(d0.getLong(2) === 0L && d0.getLong(3) === 2L)      // v0, 2 buckets
    assert(d0.getLong(4) > 0L, "size_bytes from the commit's own meta")
    assert(d0.getLong(5) === 0L && d0.getLong(6) === 0L)
    assert(!d0.getBoolean(7) && d0.getLong(8) === 1L)
    // constraint lifecycle by NAME
    val tbl = "sqlface_con_t"
    spark.sql(s"CREATE TABLE $tbl USING tablelog LOCATION '$root'")
    spark.sql(s"ALTER TABLE $tbl ADD CONSTRAINT pos CHECK (id >= 0)")
    assert(graft.operators.TableLog.activeConstraints(spark, root)
      .keySet === Set("pos"))
    // a checked write enforcing it refuses violating rows
    val bad = Seq((-5L, "neg", 0L)).toDF("id", "text", "grp")
    val e = intercept[Exception](
      graft.operators.TableLog.checkedAppend(bad, root, "bad"))
    assert(e.getMessage.contains("pos"))
    // declaring a constraint existing rows violate refuses loudly
    val e2 = intercept[Exception](spark.sql(
      s"ALTER TABLE $tbl ADD CONSTRAINT big CHECK (id > 100)"))
    assert(e2.getMessage.contains("violate"))
    // DESCRIBE DETAIL counts the in-force constraint; version moved
    val d1 = spark.sql(s"DESCRIBE DETAIL $tbl").head()
    assert(d1.getLong(6) === 1L && d1.getLong(2) === 1L)
    spark.sql(s"ALTER TABLE $tbl DROP CONSTRAINT pos")
    assert(graft.operators.TableLog.activeConstraints(spark, root).isEmpty)
    // non-tablelog DESCRIBE stays Spark's
    assert(spark.sql("DESCRIBE SELECT 1 AS one").count() === 1L)
    spark.sql(s"DROP TABLE $tbl")
  }

  test("graft_table_window_stats / graft_table_window_distinct: the " +
      "range-scoped metadata aggregates as pure SQL") {
    val spark0 = spark
    import spark0.implicits._
    val dir = Files.createTempDirectory("graft_sqlface_ws").toString
    val root = s"$dir/t"
    val tl = graft.operators.TableLog
    val df = (0L until 1000L).map(i => (i, i % 50, s"u${i % 97}"))
      .toDF("k", "v", "u")
    val (files, zm) = tl.stageWithZoneMap(df, root, "base", "k", 8,
      statsCols = Seq("v"), sketchCols = Seq("v"))
    tl.commit(spark, root, files, Nil, zmap = zm)
    val st = spark.sql(s"SELECT * FROM graft_table_window_stats(" +
      s"'$root', 'k', 100, 899, 'v')").collect()
    assert(st.length === 1)
    val r = st.head
    assert(r.getAs[Long]("n_rows") === 800L)
    assert(r.getAs[String]("lo_s").toLong === 0L &&
      r.getAs[String]("hi_s").toLong === 49L)
    // the stats answer must equal the scan's ground truth
    assert(r.getAs[Long]("sum_s").toString.toLong ===
      df.where("k BETWEEN 100 AND 899").agg(sum("v")).head().getLong(0))
    val d = spark.sql(s"SELECT * FROM graft_table_window_distinct(" +
      s"'$root', 'v', 'k', 100, 899)").collect()
    assert(d.length === 1)
    val est = d.head.getAs[Double]("est_distinct")
    assert(est > 45.0 && est < 55.0, s"HLL estimate $est drifted")
    // a sketchless column DEGRADES to scanning those files (the
    // metadataDistinctRange contract), still a sane estimate
    val du = spark.sql(s"SELECT * FROM graft_table_window_distinct(" +
      s"'$root', 'u', 'k', 100, 899)").head().getAs[Double]("est_distinct")
    assert(du > 85.0 && du < 110.0, s"scan-degraded estimate $du drifted")
    // a column that exists nowhere declines LOUDLY
    val err = intercept[Exception] { spark.sql(
      s"SELECT * FROM graft_table_window_distinct('$root', 'nope', 'k', 0, 9)") }
    assert(err.getMessage.contains("declined"))
  }

  test("UPDATE SET follows the INSERT path's ANSI store-assignment " +
      "policy, and path-addressed mutations invalidate ONLY names at " +
      "that root") {
    val spark0 = spark
    import spark0.implicits._
    val root = freshTable(2)
    // string -> BIGINT column: not an ANSI store assignment — refuses
    // at plan time instead of legacy-casting the whole matched range
    // to NULL (the INSERT path refuses the same shape)
    val eBad = intercept[Exception](spark.sql(
      s"UPDATE graft.`$root` SET grp = 'abc' WHERE id BETWEEN 0 AND 4"))
    assert(eBad.getMessage.contains("ANSI store assignment"),
      s"got: ${eBad.getMessage}")
    assert(graft.operators.TableLog.snapshot(spark, root)
      .filter(col("grp").isNull).count() === 0L,
      "a refused UPDATE must not have committed NULLs")
    // a legal widening assignment (INT literal -> BIGINT) still works
    spark.sql(s"UPDATE graft.`$root` SET grp = 42 " +
      "WHERE id BETWEEN 0 AND 4")
    assert(graft.operators.TableLog.snapshot(spark, root)
      .filter(col("grp") === 42L).count() === 5L)

    // cache-invalidation SCOPE: mutating root by PATH must refresh
    // names at THIS root, and must NOT evict an unrelated table's
    // cached data (the old blanket invalidateAllCachedTables did).
    // The bystander is a plain PARQUET table: its relation
    // canonicalizes across resolutions, so isCached can observe
    // eviction (a tablelog relation re-resolves fresh each read and
    // is invisible to isCached by design — version-pinned snapshots).
    val other = Files.createTempDirectory("graft_sqlface_other")
      .toString + "/o"
    Seq((1L, "a")).toDF("id", "text").write.parquet(other)
    spark.sql(s"CREATE TABLE sqlface_scope_here USING tablelog LOCATION '$root'")
    spark.sql(s"CREATE TABLE sqlface_scope_other USING parquet LOCATION '$other'")
    spark.catalog.cacheTable("sqlface_scope_other")
    assert(spark.table("sqlface_scope_other").count() === 1L) // materialize
    assert(spark.catalog.isCached("sqlface_scope_other"),
      "precondition: the unrelated table IS cached before the mutation")
    val nBefore = spark.table("sqlface_scope_here").count()
    spark.sql(s"DELETE FROM graft.`$root` WHERE id BETWEEN 0 AND 9")
    assert(spark.table("sqlface_scope_here").count() === nBefore - 10L,
      "the mutated root's name must see the new version")
    assert(spark.catalog.isCached("sqlface_scope_other"),
      "an unrelated table's cache must survive a path-addressed mutation")
    Seq("sqlface_scope_here", "sqlface_scope_other")
      .foreach(t => spark.sql(s"DROP TABLE $t"))
  }
}
