package graft.sql

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.VersionedTable

/** SQL-surface access to graft tables: catalog resolution, time travel,
  * INSERT, DDL, MERGE INTO, and the metadata-only COUNT(*) rewrite —
  * everything the reference ships as SQL (the sql/ddl scripts, the MERGE runbook)
  * reachable via `spark.sql` with the graft catalog + extensions
  * registered (SparkSpec registers both). */
class GraftSqlSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-sql").toString + "/t"

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  private def sqlName(path: String): String = s"graft.`$path`"

  test("SELECT through the catalog matches the DataFrame read, on the V1 scan path") {
    val p = tmp()
    val df = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "name", "v")
    VersionedTable.write(df, p, statsCols = Seq("id"))

    val viaSql = spark.sql(s"SELECT * FROM ${sqlName(p)} WHERE id >= 2")
    val viaDf = VersionedTable.read(spark, p).filter($"id" >= 2)
    assert(rows(viaSql) == rows(viaDf))
    // the conversion rule swapped the V2 relation for the HadoopFsRelation
    // path: vectorized FileSourceScanExec, not the row-based V1 fallback
    val scans = viaSql.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s }
    assert(scans.nonEmpty, "expected the converted FileSourceScanExec path:\n" +
      viaSql.queryExecution.executedPlan)
  }

  test("SQL filters prune files through the manifest, same as the format read") {
    val p = tmp()
    // two files with disjoint id ranges via two appends
    VersionedTable.write(
      Seq((1L, "lo"), (2L, "lo2")).toDF("id", "s").repartition(1), p,
      statsCols = Seq("id"))
    VersionedTable.append(
      Seq((100L, "hi"), (200L, "hi2")).toDF("id", "s").repartition(1), p)
    def filesScanned(df: DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s.metrics("numFiles").value }.sum
    }
    assert(filesScanned(spark.sql(s"SELECT * FROM ${sqlName(p)}")) == 2L)
    assert(filesScanned(
      spark.sql(s"SELECT * FROM ${sqlName(p)} WHERE id > 50")) == 1L)
  }

  test("VERSION AS OF / TIMESTAMP AS OF time travel") {
    val p = tmp()
    VersionedTable.write(Seq((1L, "v1")).toDF("id", "s"), p)
    VersionedTable.append(Seq((2L, "v2")).toDF("id", "s"), p)
    assert(spark.sql(s"SELECT * FROM ${sqlName(p)} VERSION AS OF 1").count() == 1)
    assert(spark.sql(s"SELECT * FROM ${sqlName(p)} VERSION AS OF 2").count() == 2)
    // every commit predates "now + 1h" → resolves to the head version
    val ts = java.time.Instant.now().plusSeconds(3600).toString.replace("T", " ").takeWhile(_ != '.')
    assert(spark.sql(
      s"SELECT * FROM ${sqlName(p)} TIMESTAMP AS OF '$ts'").count() == 2)
  }

  test("INSERT INTO appends a version; INSERT OVERWRITE snapshots") {
    val p = tmp()
    VersionedTable.write(Seq((1L, "a")).toDF("id", "s"), p)
    spark.sql(s"INSERT INTO ${sqlName(p)} VALUES (2, 'b'), (3, 'c')")
    assert(VersionedTable.latestVersion(spark, p).contains(2L))
    assert(VersionedTable.read(spark, p).count() == 3)
    spark.sql(s"INSERT OVERWRITE ${sqlName(p)} VALUES (9, 'z')")
    assert(VersionedTable.latestVersion(spark, p).contains(3L))
    assert(rows(VersionedTable.read(spark, p)) == Set("[9,z]"))
    // history intact: the pre-overwrite version still time-travels
    assert(spark.sql(s"SELECT * FROM ${sqlName(p)} VERSION AS OF 2").count() == 3)
  }

  test("CREATE TABLE + INSERT + SELECT; duplicate CREATE refused") {
    val p = tmp()
    spark.sql(s"CREATE TABLE ${sqlName(p)} (id BIGINT, name STRING, v DOUBLE) " +
      "TBLPROPERTIES ('statsCols'='id')")
    assert(VersionedTable.latestVersion(spark, p).contains(1L))
    assert(VersionedTable.read(spark, p).count() == 0)
    spark.sql(s"INSERT INTO ${sqlName(p)} VALUES (1, 'x', 1.5)")
    assert(rows(spark.sql(s"SELECT * FROM ${sqlName(p)}")) == Set("[1,x,1.5]"))
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE ${sqlName(p)} (id BIGINT)")
    }
    assert(e.getMessage.toLowerCase.contains("already exists"), e.getMessage)
  }

  test("ALTER TABLE ADD COLUMNS / DROP COLUMN are metadata-only commits") {
    val p = tmp()
    VersionedTable.write(Seq((1L, "a")).toDF("id", "s"), p)
    spark.sql(s"ALTER TABLE ${sqlName(p)} ADD COLUMNS (score DOUBLE)")
    assert(VersionedTable.read(spark, p).columns.toSeq == Seq("id", "s", "score"))
    assert(rows(spark.sql(s"SELECT * FROM ${sqlName(p)}")) == Set("[1,a,null]"))
    spark.sql(s"ALTER TABLE ${sqlName(p)} DROP COLUMN s")
    assert(VersionedTable.read(spark, p).columns.toSeq == Seq("id", "score"))
  }

  test("ALTER TABLE RENAME COLUMN: carried files answer under the new name") {
    val p = tmp()
    VersionedTable.write(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), p,
      statsCols = Seq("id"))
    spark.sql(s"ALTER TABLE ${sqlName(p)} RENAME COLUMN id TO key")
    assert(VersionedTable.read(spark, p).columns.toSeq == Seq("key", "s"))
    assert(rows(spark.sql(s"SELECT * FROM ${sqlName(p)} WHERE key = 2")) ==
      Set("[2,b]"))
    // INSERT after the rename; metadata MIN/MAX still answers on the new name
    spark.sql(s"INSERT INTO ${sqlName(p)} VALUES (5, 'c')")
    assert(rows(spark.sql(s"SELECT MIN(key) AS mn, MAX(key) AS mx FROM ${sqlName(p)}")) ==
      Set("[1,5]"))
    // pre-rename version still time-travels under its own name
    assert(spark.sql(s"SELECT id FROM ${sqlName(p)} VERSION AS OF 1").count() == 2)
  }

  test("MERGE INTO ≡ VersionedTable.upsert (differential)") {
    val pSql = tmp(); val pApi = tmp()
    val base = Seq((1L, "old1", 10.0), (2L, "old2", 20.0)).toDF("id", "s", "v")
    VersionedTable.write(base, pSql, statsCols = Seq("id"))
    VersionedTable.write(base, pApi, statsCols = Seq("id"))
    val updates = Seq((2L, "new2", 21.0), (3L, "new3", 30.0)).toDF("id", "s", "v")
    updates.createOrReplaceTempView("merge_updates")

    spark.sql(s"""MERGE INTO ${sqlName(pSql)} t USING merge_updates s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    VersionedTable.upsert(updates, pApi, Seq("id"))

    assert(rows(VersionedTable.read(spark, pSql)) ==
      rows(VersionedTable.read(spark, pApi)))
    assert(rows(VersionedTable.read(spark, pSql)) ==
      Set("[1,old1,10.0]", "[2,new2,21.0]", "[3,new3,30.0]"))
  }

  test("MERGE with explicit assignments and a tombstone DELETE clause") {
    val p = tmp()
    VersionedTable.write(
      Seq((1L, "keep", 1.0), (2L, "gone", 2.0)).toDF("id", "s", "v"), p,
      statsCols = Seq("id"))
    // s = 'dead' tombstones the key; others upsert
    Seq((2L, "dead", 0.0), (3L, "ins", 3.0)).toDF("id", "s", "v")
      .createOrReplaceTempView("merge_cdc")
    // the INSERT clause must carry the negated tombstone condition — an
    // unconditional INSERT would (in SQL semantics) insert an UNMATCHED
    // tombstone row, which upsert cannot express, so that shape refuses
    val e = intercept[UnsupportedOperationException] {
      spark.sql(s"""MERGE INTO ${sqlName(p)} t USING merge_cdc u
        ON t.id = u.id
        WHEN MATCHED AND u.s = 'dead' THEN DELETE
        WHEN MATCHED THEN UPDATE SET t.id = u.id, t.s = u.s, t.v = u.v
        WHEN NOT MATCHED THEN INSERT (id, s, v) VALUES (u.id, u.s, u.v)""")
    }
    assert(e.getMessage.contains("NOT <cond>"), e.getMessage)
    spark.sql(s"""MERGE INTO ${sqlName(p)} t USING merge_cdc u
      ON t.id = u.id
      WHEN MATCHED AND u.s = 'dead' THEN DELETE
      WHEN MATCHED THEN UPDATE SET t.id = u.id, t.s = u.s, t.v = u.v
      WHEN NOT MATCHED AND NOT (u.s = 'dead')
        THEN INSERT (id, s, v) VALUES (u.id, u.s, u.v)""")
    // key 2 removed (tombstone not inserted), 3 inserted (its s != 'dead')...
    // no: 3 is unmatched and s='ins' — inserted; tombstone rows that match
    // nothing are dropped by upsert's insert filter
    assert(rows(VersionedTable.read(spark, p)) ==
      Set("[1,keep,1.0]", "[3,ins,3.0]"))
  }

  test("APPLY CHANGES INTO ≡ upsert(guardBy): late update and late tombstone ignored") {
    val pSql = tmp(); val pApi = tmp()
    // stored state carries sequence 100 for every key
    val base = Seq((1L, 100L, "s1"), (2L, 100L, "s2"), (3L, 100L, "s3"),
      (4L, 100L, "s4")).toDF("id", "seq", "s")
    VersionedTable.write(base, pSql, statsCols = Seq("id"))
    VersionedTable.write(base, pApi, statsCols = Seq("id"))
    // one CDC batch exercising every branch, with an intra-batch duplicate:
    //  id=1 fresh update (200 ≥ 100, applies) — delivered TWICE with
    //        different seqs; SEQUENCE BY keeps the newer (210)
    //  id=2 LATE update (50 < 100, ignored)
    //  id=3 fresh tombstone (150 ≥ 100, key removed)
    //  id=4 LATE tombstone (10 < 100, ignored — stored row survives)
    //  id=5 insert (absent key)
    //  id=6 tombstone for an absent key (never inserts)
    val cdc = Seq(
      (1L, 200L, "u1a", "upsert"), (1L, 210L, "u1b", "upsert"),
      (2L, 50L, "u2", "upsert"),
      (3L, 150L, "x", "delete"), (4L, 10L, "x", "delete"),
      (5L, 500L, "u5", "upsert"), (6L, 500L, "x", "delete"))
      .toDF("id", "seq", "s", "op")
    cdc.createOrReplaceTempView("apply_cdc")
    spark.sql(s"""APPLY CHANGES INTO ${sqlName(pSql)} FROM apply_cdc
      KEYS (id)
      APPLY AS DELETE WHEN op = 'delete'
      SEQUENCE BY seq
      COLUMNS * EXCEPT (op)""")
    VersionedTable.upsert(cdc, pApi, Seq("id"), evolveSchema = false,
      latestBy = Some("seq"), statsCols = Nil, txn = None,
      deleteWhere = Some(col("op") === "delete"), guardBy = Some("seq"),
      dropCols = Seq("op"))
    assert(rows(VersionedTable.read(spark, pSql)) ==
      rows(VersionedTable.read(spark, pApi)))
    assert(rows(VersionedTable.read(spark, pSql)) ==
      Set("[1,210,u1b]", "[2,100,s2]", "[4,100,s4]", "[5,500,u5]"))
    // FROM accepts a parenthesized subquery too; a second apply of the SAME
    // changes is idempotent (ties go to the update, values identical)
    spark.sql(s"""APPLY CHANGES INTO ${sqlName(pSql)}
      FROM (SELECT * FROM apply_cdc WHERE id = 1)
      KEYS (id) APPLY AS DELETE WHEN op = 'delete' SEQUENCE BY seq
      COLUMNS * EXCEPT (op)""")
    assert(rows(VersionedTable.read(spark, pSql))
      .contains("[1,210,u1b]"))
  }

  test("clause keywords inside literals refuse loudly instead of mis-splitting") {
    val p = tmp()
    VersionedTable.write(Seq((1L, "g", 2L)).toDF("id", "g", "v"), p)
    def refuse(sql: String): Unit = {
      val e = intercept[IllegalArgumentException] { spark.sql(sql) }
      assert(e.getMessage.contains("unbalanced"), e.getMessage)
    }
    // the regex grammar splits clauses on keywords; each of these carries a
    // clause keyword INSIDE a literal, so the non-greedy split lands
    // mid-literal — the balance check refuses instead of executing a
    // silently wrong statement
    refuse(s"CREATE MATERIALIZED VIEW graft.`$p/mv` AS SELECT g, COUNT(*) " +
      s"FROM ${sqlName(p)} WHERE g = ' GROUP BY x' GROUP BY g")
    refuse(s"OPTIMIZE ${sqlName(p)} WHERE g = ' ZORDER BY q' ZORDER BY (g)")
    // APPLY CHANGES has a hard later anchor (SEQUENCE BY <ident>), so
    // backtracking recovers the CORRECT split past a ' KEYS (x)' literal —
    // the statement executes with the full subquery as its source
    Seq((1L, 5L, " KEYS (x)")).toDF("id", "seq", "s")
      .createOrReplaceTempView("ac_lit")
    spark.sql(s"APPLY CHANGES INTO ${sqlName(p)} " +
      "FROM (SELECT id, s AS g, seq AS v FROM ac_lit WHERE s = ' KEYS (x)') " +
      "KEYS (id) SEQUENCE BY v")
    assert(VersionedTable.read(spark, p).filter(col("g") === " KEYS (x)")
      .count() == 1L)
  }

  test("unsupported MERGE shapes are refused with the contract named") {
    val p = tmp()
    VersionedTable.write(Seq((1L, "a", 1.0)).toDF("id", "s", "v"), p)
    Seq((1L, "b", 2.0)).toDF("id", "s", "v").createOrReplaceTempView("merge_bad")
    def refuse(sql: String, needle: String): Unit = {
      val e = intercept[Throwable] { spark.sql(sql) }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains(needle)),
        s"expected '$needle' in: ${msgs(e).mkString(" | ")}")
    }
    refuse(s"""MERGE INTO ${sqlName(p)} t USING merge_bad s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET t.s = s.s""", "partial row")
    refuse(s"""MERGE INTO ${sqlName(p)} t USING merge_bad s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *""", "INSERT clause is required")
    refuse(s"""MERGE INTO ${sqlName(p)} t USING merge_bad s ON t.id < s.id
      WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""",
      "not an equality")
  }

  test("bare COUNT(*) answers from the manifest — data files never opened") {
    val p = tmp()
    val df = spark.range(0, 1000).toDF("id").withColumn("v", $"id" * 2)
    VersionedTable.write(df, p, statsCols = Seq("id"))
    VersionedTable.append(spark.range(1000, 1500).toDF("id")
      .withColumn("v", $"id" * 2), p)
    // destroy every data file; the commit log survives
    val root = new org.apache.hadoop.fs.Path(p)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(root).filter(_.getPath.getName.startsWith("d-"))
      .foreach(st => fs.delete(st.getPath, true))

    // DSv1 format path and SQL path both rewrite to a metadata answer
    assert(spark.read.format("graft-table").load(p).count() == 1500L)
    assert(spark.sql(s"SELECT count(*) FROM ${sqlName(p)}").as[Long].head() == 1500L)
    // sanity: anything that actually reads rows now fails (files are gone)
    intercept[Throwable] {
      spark.read.format("graft-table").load(p).agg(sum("id")).collect()
    }
  }

  test("MIN/MAX answer from manifest stats — data files never opened") {
    val p = tmp()
    val df = spark.range(0, 1000).toDF("id")
      .withColumn("v", $"id" * 1.5)
      .withColumn("s", concat(lit("k"), format_string("%04d", $"id")))
    VersionedTable.write(df.repartition(4), p, statsCols = Seq("id", "v", "s"))
    // destroy every data file; the commit log survives
    val root = new org.apache.hadoop.fs.Path(p)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(root).filter(_.getPath.getName.startsWith("d-"))
      .foreach(st => fs.delete(st.getPath, true))

    val got = spark.sql(
      s"SELECT min(id) AS a, max(id) AS b, min(v) AS c, max(v) AS d, " +
        s"min(s) AS e, max(s) AS f, count(*) AS n FROM ${sqlName(p)}").head()
    assert(got.toString == "[0,999,0.0,1498.5,k0000,k0999,1000]", got.toString)
    // the same through the format read path
    val viaFormat = spark.read.format("graft-table").load(p)
      .agg(min($"id"), max($"s")).head()
    assert(viaFormat.toString == "[0,k0999]", viaFormat.toString)
    // a pass-through projection (rename) still answers; a COMPUTED column
    // reusing the name must NOT read the base column's stats — with the
    // files destroyed, the honest behavior is to fail, not to answer
    assert(spark.sql(s"SELECT min(x) FROM (SELECT id AS x FROM ${sqlName(p)})")
      .head().getLong(0) == 0L)
    intercept[Throwable] {
      spark.sql(s"SELECT min(id) FROM (SELECT id + 1 AS id FROM ${sqlName(p)})")
        .collect()
    }
    // filters and columns without stats must scan (and therefore fail here)
    intercept[Throwable] {
      spark.sql(s"SELECT min(id) FROM ${sqlName(p)} WHERE v > 10").collect()
    }
  }

  test("MIN/MAX rewrite declines on deletion-vector marks (a marked row could be the extremum)") {
    val p = tmp()
    VersionedTable.write(spark.range(0, 100).toDF("id"), p, statsCols = Seq("id"))
    VersionedTable.delete(spark, p, $"id" >= 95)
    // must come from a real scan: the stats still say max=99
    assert(spark.read.format("graft-table").load(p).agg(max($"id"))
      .head().getLong(0) == 94L)
  }

  test("COUNT(*) rewrite subtracts deletion-vector marks and respects filters") {
    val p = tmp()
    VersionedTable.write(spark.range(0, 100).toDF("id"), p, statsCols = Seq("id"))
    VersionedTable.delete(spark, p, col("id") < 10)
    assert(spark.read.format("graft-table").load(p).count() == 90L)
    // a filtered count must NOT shortcut to the manifest total
    assert(spark.read.format("graft-table").load(p)
      .filter($"id" >= 50).count() == 50L)
  }

  test("DROP TABLE removes the table; SELECT then fails to resolve") {
    val p = tmp()
    VersionedTable.write(Seq((1L, "a")).toDF("id", "s"), p)
    spark.sql(s"DROP TABLE ${sqlName(p)}")
    assert(VersionedTable.latestVersion(spark, p).isEmpty)
    intercept[Exception] { spark.sql(s"SELECT * FROM ${sqlName(p)}") }
  }

  private def messagesOf(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")

  test("DELETE FROM ≡ VersionedTable.delete; untouched partitions carry by reference") {
    val p = tmp(); val p2 = tmp()
    val df = Seq((1L, 10.0, "d1"), (2L, 20.0, "d1"), (3L, 30.0, "d2"),
      (4L, 40.0, "d2")).toDF("id", "v", "dt")
    VersionedTable.write(df, p, statsCols = Seq("id"), partitionBy = Seq("dt"))
    VersionedTable.write(df, p2, statsCols = Seq("id"), partitionBy = Seq("dt"))
    val d2Before = VersionedTable.filesOf(spark, p, 1L).filter(_.contains("dt=d2"))

    spark.sql(s"DELETE FROM ${sqlName(p)} WHERE dt = 'd1' AND id > 1")
    VersionedTable.delete(spark, p2, $"dt" === "d1" && $"id" > 1)
    assert(rows(spark.sql(s"SELECT * FROM ${sqlName(p)}")) ==
      rows(VersionedTable.read(spark, p2)))
    assert(rows(spark.sql(s"SELECT * FROM ${sqlName(p)}")) ==
      Set("[1,10.0,d1]", "[3,30.0,d2]", "[4,40.0,d2]"))
    // ONE commit, and the dt=d2 directory's files are the same physical
    // paths in v2 — carried by reference, never rewritten
    assert(VersionedTable.latestVersion(spark, p).contains(2L))
    val d2After = VersionedTable.filesOf(spark, p, 2L).filter(_.contains("dt=d2"))
    assert(d2After.toSet == d2Before.toSet, s"d2 rewritten: $d2Before -> $d2After")
    // the statement and the verb commit the same shape under the one
    // mark-or-rewrite rule: as many files, the same marks
    val (m, m2) = (VersionedTable.versionMetaOf(spark, p, 2L),
      VersionedTable.versionMetaOf(spark, p2, 2L))
    assert(m.files.size == m2.files.size &&
      m.dvRows.values.toSeq.sorted == m2.dvRows.values.toSeq.sorted, s"$m vs $m2")
  }

  test("UPDATE ... SET ≡ VersionedTable.update; assignments see the old row") {
    val p = tmp(); val p2 = tmp()
    val df = Seq((1L, 10.0, "a"), (2L, 20.0, "b"), (3L, 30.0, "c"))
      .toDF("id", "v", "s")
    VersionedTable.write(df, p, statsCols = Seq("id"))
    VersionedTable.write(df, p2, statsCols = Seq("id"))

    spark.sql(s"UPDATE ${sqlName(p)} SET v = v * 2 + id, s = 'hit' WHERE id >= 2")
    VersionedTable.update(spark, p2, $"id" >= 2,
      Map("v" -> ($"v" * 2 + $"id"), "s" -> lit("hit")))
    assert(rows(spark.sql(s"SELECT * FROM ${sqlName(p)}")) ==
      rows(VersionedTable.read(spark, p2)))
    assert(rows(spark.sql(s"SELECT * FROM ${sqlName(p)}")) ==
      Set("[1,10.0,a]", "[2,42.0,hit]", "[3,63.0,hit]"))
    assert(VersionedTable.latestVersion(spark, p).contains(2L)) // one commit
    // pre-UPDATE snapshot stays time-travelable
    assert(rows(spark.sql(s"SELECT * FROM ${sqlName(p)} VERSION AS OF 1")) ==
      rows(df))
  }

  test("DELETE FROM without WHERE empties the table in one commit; history intact") {
    val p = tmp()
    VersionedTable.write(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), p)
    spark.sql(s"DELETE FROM ${sqlName(p)}")
    assert(spark.sql(s"SELECT * FROM ${sqlName(p)}").count() == 0)
    assert(rows(spark.sql(s"SELECT * FROM ${sqlName(p)} VERSION AS OF 1")) ==
      Set("[1,a]", "[2,b]"))
  }

  test("DML refusals: subquery conditions and nested SET targets fail loudly") {
    val p = tmp()
    VersionedTable.write(Seq((1L, "a")).toDF("id", "s"), p)
    Seq((2L, "x")).toDF("id", "s").createOrReplaceTempView("dml_src")
    val e1 = intercept[Exception] {
      spark.sql(s"DELETE FROM ${sqlName(p)} WHERE id IN (SELECT id FROM dml_src)")
    }
    assert(messagesOf(e1).contains("subqueries"), messagesOf(e1))
    val e2 = intercept[Exception] {
      spark.sql(s"UPDATE ${sqlName(p)} SET v = (SELECT MAX(id) FROM dml_src)")
    }
    assert(messagesOf(e2).nonEmpty) // refused (unknown column or subquery)
    // nothing committed by any refusal
    assert(VersionedTable.latestVersion(spark, p).contains(1L))
  }

  test("SQL OPTIMIZE ≡ compact: packs small files, read results identical") {
    val p = tmp()
    (0 until 4).foreach { i =>
      VersionedTable.append(Seq((i.toLong, s"r$i")).toDF("id", "s"), p)
    }
    val expect = rows(VersionedTable.read(spark, p))
    val before = VersionedTable.filesOf(spark, p, 4L).size
    val out = spark.sql(s"OPTIMIZE ${sqlName(p)}").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(5L)) // the committed version
    assert(VersionedTable.filesOf(spark, p, 5L).size < before)
    assert(rows(VersionedTable.read(spark, p)) == expect)
  }

  test("SQL OPTIMIZE WHERE ... ZORDER BY: scoped to partitions, out-of-scope untouched") {
    val p = tmp()
    val df = (0 until 200).map(i => (i.toLong, i * 2.0, s"d${i % 2}"))
      .toDF("id", "v", "dt")
    VersionedTable.write(df.repartition(4), p, statsCols = Seq("id"),
      partitionBy = Seq("dt"))
    val expect = rows(spark.sql(s"SELECT * FROM ${sqlName(p)}"))
    val before = VersionedTable.filesOf(spark, p, 1L)
    spark.sql(s"OPTIMIZE ${sqlName(p)} WHERE dt = 'd0' ZORDER BY (id, v)")
    val after = VersionedTable.filesOf(spark, p, 2L)
    assert(after.filterNot(_.contains("dt=d0")).toSet ==
      before.filterNot(_.contains("dt=d0")).toSet, "out-of-scope rewritten")
    assert(after.filter(_.contains("dt=d0")).toSet !=
      before.filter(_.contains("dt=d0")).toSet, "in-scope not re-clustered")
    assert(rows(spark.sql(s"SELECT * FROM ${sqlName(p)}")) == expect)
  }

  test("SQL VACUUM RETAIN 0 HOURS keeps only the head; DESCRIBE HISTORY shrinks") {
    val p = tmp()
    (0 until 3).foreach { i =>
      VersionedTable.append(Seq((i.toLong, s"r$i")).toDF("id", "s"), p)
    }
    assert(spark.sql(s"DESCRIBE HISTORY ${sqlName(p)}")
      .select("version").collect().map(_.getLong(0)).toSeq == Seq(3L, 2L, 1L))
    val expect = rows(VersionedTable.read(spark, p))
    spark.sql(s"VACUUM ${sqlName(p)} RETAIN 0 HOURS")
    assert(spark.sql(s"DESCRIBE HISTORY ${sqlName(p)}")
      .select("version").collect().map(_.getLong(0)).toSeq == Seq(3L))
    assert(rows(VersionedTable.read(spark, p)) == expect)
    intercept[Exception] { VersionedTable.read(spark, p, Some(1L)).collect() }
  }

  test("graft_table_changes TVF: row-level CDF through plain SQL") {
    val p = tmp()
    VersionedTable.write(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), p)   // v1
    VersionedTable.delete(spark, p, $"id" === 1)                         // v2
    assert(rows(spark.sql(
      s"SELECT _change_type, id, s FROM graft_table_changes('$p', 1, 2)")) ==
      Set("[delete,1,a]"))
    // fromV = 0: initial load — the toV snapshot as inserts
    assert(rows(spark.sql(
      s"SELECT _change_type, id, s FROM graft_table_changes('$p', 0, 1)")) ==
      Set("[insert,1,a]", "[insert,2,b]"))
    // composable: aggregate over the feed like any table
    assert(spark.sql(
      s"SELECT COUNT(*) FROM graft_table_changes('$p', 1, 2)")
      .collect().head.getLong(0) == 1L)
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_table_changes('$p', 1)").collect()
    }
    assert(messagesOf(e).contains("expected 3 arguments"), messagesOf(e))
  }

  test("DESCRIBE DETAIL: one manifest-only row of operational facts") {
    val p = tmp()
    val df = Seq((1L, 2.0, "a"), (2L, 4.0, "b")).toDF("id", "v", "dt")
    VersionedTable.write(df, p, statsCols = Seq("id"), partitionBy = Seq("dt"))
    VersionedTable.setProperties(spark, p, Map("graft.team" -> "ops"))
    VersionedTable.addCheckConstraint(spark, p, "v_pos", "v > 0")
    val r = spark.sql(s"DESCRIBE DETAIL ${sqlName(p)}").collect().head
    assert(r.getString(0) == p)
    assert(r.getLong(2) == 3L)                       // head version
    assert(r.getInt(3) == 2)                         // one file per dt dir
    assert(r.getLong(4) == 2L)                       // manifest row count
    assert(r.getString(5) == "dt")                   // partition dimension
    assert(r.getString(6).contains("graft.team=ops"), r.getString(6))
    assert(r.getString(7) == "v_pos=v > 0", r.getString(7))
    // generated/identity declarations surface in their own columns, and
    // the raw declaration keys stay OUT of the generic properties blob
    val p2 = tmp()
    VersionedTable.write(Seq.empty[(Long, Long, Long)]
      .toDF("id", "n", "dbl"), p2)
    VersionedTable.declareIdentityColumn(spark, p2, "id", start = 5L, step = 2L)
    VersionedTable.setGeneratedColumn(spark, p2, "dbl", "n * 2")
    val r2 = spark.sql(s"DESCRIBE DETAIL ${sqlName(p2)}").collect().head
    assert(!r2.getString(6).contains("graft.identity"), r2.getString(6))
    assert(r2.getString(8) == "dbl=n * 2", r2.getString(8))
    assert(r2.getString(9) == "id=start=5;step=2;explicit=false", r2.getString(9))
    // the protocol surfaces alongside: p is partitioned (reader feature)
    // and carries a CHECK constraint (writer feature)
    assert(r.getString(10).contains("partitioned"), r.getString(10))
    assert(r.getString(11) == "constraints", r.getString(11))
  }

  test("SHOW PARTITIONS: manifest-only values, counts, DV subtraction") {
    val p = tmp()
    VersionedTable.write(
      Seq((1L, "a", "2026-01-01"), (2L, "b", "2026-01-01"), (3L, "c", "2026-01-02"))
        .toDF("id", "s", "dt"), p, Nil, Seq("dt"))
    VersionedTable.delete(spark, p, $"id" === 1L) // mark, no rewrite
    val got = spark.sql(s"SHOW PARTITIONS ${sqlName(p)}")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got == Seq(("dt=2026-01-01", 1, 1L), ("dt=2026-01-02", 1, 1L)), got)
    // manifest-only: answers with every data file destroyed
    val root = new org.apache.hadoop.fs.Path(p)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    VersionedTable.filesOf(spark, p, 2L).foreach(rel =>
      fs.delete(new org.apache.hadoop.fs.Path(root, rel), false))
    assert(spark.sql(s"SHOW PARTITIONS ${sqlName(p)}").count() == 2)
    // unpartitioned table: loud refusal
    val p2 = tmp()
    VersionedTable.write(Seq((1L, "x")).toDF("id", "s"), p2)
    val e = intercept[Exception] { spark.sql(s"SHOW PARTITIONS ${sqlName(p2)}") }
    assert(e.getMessage.contains("not partitioned"), e.getMessage)
  }

  test("CREATE TABLE ... SHALLOW CLONE: SQL branch of a table, zero copy") {
    val base = Files.createTempDirectory("graft-clone").toString
    val src = base + "/src"; val dst = base + "/dst"
    VersionedTable.write(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), src,
      statsCols = Seq("id"))
    VersionedTable.append(Seq((3L, "c")).toDF("id", "s"), src)
    val out = spark.sql(
      s"CREATE TABLE ${sqlName(dst)} SHALLOW CLONE ${sqlName(src)}").collect()
    assert(out.head.getLong(0) == 1L)
    assert(rows(spark.sql(s"SELECT * FROM ${sqlName(dst)}")) ==
      rows(spark.sql(s"SELECT * FROM ${sqlName(src)}")))
    // VERSION AS OF form clones the older state into a third table
    val dstOld = base + "/dstOld"
    spark.sql(s"CREATE TABLE ${sqlName(dstOld)} CLONE ${sqlName(src)} VERSION AS OF 1")
    assert(spark.sql(s"SELECT * FROM ${sqlName(dstOld)}").count() == 2)
  }

  test("VACUUM DRY RUN previews the sweep without deleting anything") {
    val p = tmp()
    VersionedTable.write(Seq((1L, "a")).toDF("id", "s"), p)          // v1
    VersionedTable.write(Seq((2L, "b")).toDF("id", "s"), p)          // v2 replaces v1
    Thread.sleep(5L) // RETAIN 0 keeps commits stamped at-or-after "now"
    val preview = spark.sql(s"VACUUM ${sqlName(p)} RETAIN 0 HOURS DRY RUN")
      .collect().map(_.getString(0))
    // v1's manifest and its now-unreferenced data file are listed
    assert(preview.exists(_.endsWith("00000001.json")), preview.mkString(","))
    assert(preview.exists(_.endsWith(".parquet")), preview.mkString(","))
    // nothing was touched: full history still reads
    assert(rows(spark.sql(s"SELECT * FROM ${sqlName(p)} VERSION AS OF 1")) ==
      Set("[1,a]"))
    // the real sweep then deletes exactly that horizon
    spark.sql(s"VACUUM ${sqlName(p)} RETAIN 0 HOURS")
    intercept[Exception] { VersionedTable.read(spark, p, Some(1L)).collect() }
    assert(rows(VersionedTable.read(spark, p)) == Set("[2,b]"))
  }

  test("SQL RESTORE TO VERSION / TIMESTAMP AS OF re-commits the target as head") {
    val p = tmp()
    VersionedTable.write(Seq((1L, "a")).toDF("id", "s"), p)          // v1
    VersionedTable.append(Seq((2L, "b")).toDF("id", "s"), p)         // v2
    val out = spark.sql(s"RESTORE ${sqlName(p)} TO VERSION AS OF 1").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 3L)))
    assert(rows(VersionedTable.read(spark, p)) == Set("[1,a]"))
    // TIMESTAMP form: far-future instant resolves to the current head (v3,
    // contents = v1); restoring it is a no-op returning the head version
    val out2 = spark.sql(
      s"RESTORE TABLE ${sqlName(p)} TO TIMESTAMP AS OF '2099-01-01'").collect()
    assert(out2.head.getLong(1) == 3L)
    assert(rows(VersionedTable.read(spark, p)) == Set("[1,a]"))
  }

  test("maintenance statements refuse a non-graft catalog; other SQL still parses") {
    val e = intercept[Exception] {
      spark.sql("OPTIMIZE nosuchcat.`/tmp/nope`").collect()
    }
    assert(messagesOf(e).contains("not a registered graft catalog"), messagesOf(e))
    // the injected parser is invisible to everything else
    assert(spark.sql("SELECT 1 AS one").collect().head.getInt(0) == 1)
  }

  test("TBLPROPERTIES via SQL: CREATE stores them, SET/UNSET commit, constraints enforce") {
    val p = tmp()
    spark.sql(s"CREATE TABLE ${sqlName(p)} (id BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.autoCompact'='true')")
    assert(VersionedTable.propertiesOf(spark, p)
      .get("graft.autoCompact").contains("true"))
    spark.sql(s"ALTER TABLE ${sqlName(p)} SET TBLPROPERTIES " +
      "('graft.optimizeWrite'='true')")
    assert(VersionedTable.propertiesOf(spark, p)
      .get("graft.optimizeWrite").contains("true"))
    spark.sql(s"ALTER TABLE ${sqlName(p)} UNSET TBLPROPERTIES ('graft.autoCompact')")
    assert(!VersionedTable.propertiesOf(spark, p).contains("graft.autoCompact"))

    // ADD CONSTRAINT ... CHECK through Spark's native DDL (the catalog
    // declares SUPPORT_TABLE_CONSTRAINT); INSERT then enforces it
    spark.sql(s"INSERT INTO ${sqlName(p)} VALUES (1, 10.0)")
    spark.sql(s"ALTER TABLE ${sqlName(p)} ADD CONSTRAINT v_pos CHECK (v > 0)")
    assert(VersionedTable.checkConstraintsOf(spark, p).contains("v_pos"))
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO ${sqlName(p)} VALUES (2, -1.0)")
    }
    assert(messagesOf(e).contains("v_pos"), messagesOf(e))
    assert(rows(spark.sql(s"SELECT * FROM ${sqlName(p)}")) == Set("[1,10.0]"))
    spark.sql(s"ALTER TABLE ${sqlName(p)} DROP CONSTRAINT v_pos")
    spark.sql(s"INSERT INTO ${sqlName(p)} VALUES (2, -1.0)")
    assert(spark.sql(s"SELECT * FROM ${sqlName(p)}").count() == 2)
  }

  test("CTAS: CREATE TABLE AS SELECT lands as create+insert commits, partitioned too") {
    val p = tmp(); val p2 = tmp(); val p3 = tmp()
    VersionedTable.write(
      Seq((1L, 2.0, "a"), (2L, 4.0, "b")).toDF("id", "v", "dt"), p)
    spark.sql(s"CREATE TABLE ${sqlName(p2)} AS SELECT * FROM ${sqlName(p)}")
    assert(rows(spark.sql(s"SELECT * FROM ${sqlName(p2)}")) ==
      rows(VersionedTable.read(spark, p)))
    assert(VersionedTable.latestVersion(spark, p2).contains(2L)) // create + insert
    // partitioned CTAS: the one-statement migration recipe
    spark.sql(s"CREATE TABLE ${sqlName(p3)} PARTITIONED BY (dt) " +
      s"AS SELECT id, v, dt FROM ${sqlName(p)}")
    assert(VersionedTable.filesOf(spark, p3,
      VersionedTable.latestVersion(spark, p3).get).forall(_.contains("/dt=")))
    assert(rows(spark.sql(s"SELECT id, v, dt FROM ${sqlName(p3)}")) ==
      rows(VersionedTable.read(spark, p)))
    // SHOW TBLPROPERTIES reads the stored props through the catalog
    VersionedTable.setProperties(spark, p2, Map("graft.team" -> "ops"))
    assert(spark.sql(s"SHOW TBLPROPERTIES ${sqlName(p2)}")
      .collect().map(r => (r.getString(0), r.getString(1)))
      .contains(("graft.team", "ops")))
  }

  test("CREATE TABLE refuses non-trailing partition columns; trailing order round-trips") {
    val p = tmp()
    // the recorded schema puts partition columns LAST; accepting dt
    // mid-schema would silently reorder SELECT * / positional INSERT
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE ${sqlName(p)} (dt STRING, id BIGINT, v DOUBLE) " +
        "PARTITIONED BY (dt)")
    }
    assert(messagesOf(e).contains("declared LAST"), messagesOf(e))
    assert(VersionedTable.latestVersion(spark, p).isEmpty) // nothing committed
    spark.sql(s"CREATE TABLE ${sqlName(p)} (id BIGINT, v DOUBLE, dt STRING) " +
      "PARTITIONED BY (dt)")
    spark.sql(s"INSERT INTO ${sqlName(p)} VALUES (1, 2.0, 'a')")
    val out = spark.sql(s"SELECT * FROM ${sqlName(p)}")
    assert(out.columns.toSeq == Seq("id", "v", "dt"))
    assert(rows(out) == Set("[1,2.0,a]"))
  }

  test("ALTER COLUMN TYPE widens through SQL; non-widening refused") {
    val p = tmp()
    VersionedTable.write(Seq((1, 1.5f), (2, 2.5f)).toDF("id", "f"), p)
    spark.sql(s"ALTER TABLE ${sqlName(p)} ALTER COLUMN id TYPE BIGINT")
    spark.sql(s"ALTER TABLE ${sqlName(p)} ALTER COLUMN f TYPE DOUBLE")
    val out = spark.sql(s"SELECT * FROM ${sqlName(p)} ORDER BY id")
    assert(out.schema("id").dataType ==
      org.apache.spark.sql.types.LongType, out.schema)
    assert(out.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 1.5), (2L, 2.5)))
    spark.sql(s"INSERT INTO ${sqlName(p)} VALUES (3000000000, 9.25)")
    assert(spark.sql(
      s"SELECT id FROM ${sqlName(p)} WHERE id > 2000000000").count() == 1)
    // narrowing: refused by Spark's own analyzer before reaching the catalog
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE ${sqlName(p)} ALTER COLUMN f TYPE FLOAT") }
    assert(messagesOf(e).contains("NOT_SUPPORTED_CHANGE_COLUMN"), messagesOf(e))
    // a cast Spark's canUpCast allows but graft's metadata-only contract
    // can't serve (int→double changes the parquet physical family): OUR
    // refusal, naming the CTAS migration
    val p2 = tmp()
    VersionedTable.write(Seq((1, "a")).toDF("k", "s"), p2)
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE ${sqlName(p2)} ALTER COLUMN k TYPE DOUBLE") }
    assert(messagesOf(e2).contains("cannot widen"), messagesOf(e2))
  }

  test("COPY INTO loads each source file exactly once; re-run is a no-op") {
    val p = tmp()
    val srcDir = Files.createTempDirectory("graft-copy-src").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1)
      .write.parquet(srcDir + "/batch1")
    Seq((3L, "c")).toDF("id", "s").coalesce(1)
      .write.parquet(srcDir + "/batch2")
    // flatten the part files into one landing dir (the statement lists one
    // level, the shape of a drop-zone directory)
    val land = Files.createTempDirectory("graft-copy-land").toString
    var i = 0
    Seq("batch1", "batch2").foreach { b =>
      new java.io.File(srcDir + "/" + b).listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach { f =>
          java.nio.file.Files.copy(f.toPath,
            java.nio.file.Paths.get(land, s"part-$i.parquet"))
          i += 1
        }
    }
    val r1 = spark.sql(
      s"COPY INTO ${sqlName(p)} FROM '$land' FILEFORMAT = PARQUET")
      .collect().head
    assert(r1.getInt(1) == 2, r1.toString)
    assert(VersionedTable.read(spark, p).count() == 3)
    // idempotent: same statement again loads nothing, commits nothing
    val headBefore = VersionedTable.latestVersion(spark, p).get
    val r2 = spark.sql(
      s"COPY INTO ${sqlName(p)} FROM '$land' FILEFORMAT = PARQUET")
      .collect().head
    assert(r2.getInt(1) == 0 && r2.getLong(0) == headBefore, r2.toString)
    assert(VersionedTable.read(spark, p).count() == 3)
    // a NEW file in a growing directory: only it loads, one commit
    Seq((4L, "d")).toDF("id", "s").coalesce(1)
      .write.parquet(srcDir + "/batch3")
    new java.io.File(srcDir + "/batch3").listFiles()
      .filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.copy(f.toPath,
          java.nio.file.Paths.get(land, "part-new.parquet"))
      }
    val r3 = spark.sql(
      s"COPY INTO ${sqlName(p)} FROM '$land' FILEFORMAT = PARQUET")
      .collect().head
    assert(r3.getInt(1) == 1 && r3.getLong(0) == headBefore + 1, r3.toString)
    assert(rows(VersionedTable.read(spark, p).select($"id")) ==
      Set("[1]", "[2]", "[3]", "[4]"))
  }

  test("COPY INTO PATTERN narrows the load; schema drift refuses atomically") {
    val p = tmp()
    val land = Files.createTempDirectory("graft-copy-pat").toString
    def drop(df: DataFrame, name: String): Unit = {
      val d = Files.createTempDirectory("graft-copy-tmp").toString
      df.coalesce(1).write.parquet(d + "/o")
      new java.io.File(d + "/o").listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach { f =>
          java.nio.file.Files.copy(f.toPath, java.nio.file.Paths.get(land, name))
        }
    }
    drop(Seq((1L, "a")).toDF("id", "s"), "events-1.parquet")
    drop(Seq((2L, "b")).toDF("id", "s"), "audit-1.parquet")
    val r = spark.sql(s"COPY INTO ${sqlName(p)} FROM '$land' " +
      "FILEFORMAT = PARQUET PATTERN = 'events-*.parquet'").collect().head
    assert(r.getInt(1) == 1, r.toString)
    assert(rows(VersionedTable.read(spark, p).select($"id")) == Set("[1]"))
    // drifted schema in the drop zone: whole statement refuses, no commit
    drop(Seq((9, 1.5)).toDF("other", "x"), "events-2.parquet")
    val head = VersionedTable.latestVersion(spark, p).get
    val e = intercept[Exception] {
      spark.sql(s"COPY INTO ${sqlName(p)} FROM '$land' " +
        "FILEFORMAT = PARQUET PATTERN = 'events-*.parquet'").collect()
    }
    assert(messagesOf(e).contains("schema"), messagesOf(e))
    assert(VersionedTable.latestVersion(spark, p).contains(head))
  }

  test("COPY INTO refuses a source file regenerated in place (mtime drift)") {
    val p = tmp()
    val land = Files.createTempDirectory("graft-copy-mut").toString
    def drop(df: DataFrame, name: String, mtime: Long): Unit = {
      val d = Files.createTempDirectory("graft-copy-tmp").toString
      df.coalesce(1).write.parquet(d + "/o")
      new java.io.File(d + "/o").listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach { f =>
          val dst = java.nio.file.Paths.get(land, name)
          java.nio.file.Files.copy(f.toPath, dst,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          dst.toFile.setLastModified(mtime)
        }
    }
    drop(Seq((1L, "a")).toDF("id", "s"), "f1.parquet", 1000000L)
    val (_, n1) = VersionedTable.copyInto(spark, p, land)
    assert(n1 == 1)
    // regenerate f1 in place: same name, new content, new mtime — loaded
    // files are immutable, so the statement must refuse loudly rather than
    // silently skip the new content
    drop(Seq((9L, "mut")).toDF("id", "s"), "f1.parquet", 2000000L)
    val head = VersionedTable.latestVersion(spark, p).get
    val e = intercept[Exception] { VersionedTable.copyInto(spark, p, land) }
    assert(messagesOf(e).contains("changed since they were loaded"),
      messagesOf(e))
    assert(VersionedTable.latestVersion(spark, p).contains(head))
    // restoring the recorded mtime (content assumed immutable) runs clean
    new java.io.File(land, "f1.parquet").setLastModified(1000000L)
    val (v2, n2) = VersionedTable.copyInto(spark, p, land)
    assert(n2 == 0 && v2 == head)
  }

  test("CONVERT TO GRAFT adopts a hive-partitioned parquet dir in place; verbs work on it") {
    val p = Files.createTempDirectory("graft-convert").toString + "/t"
    val src = Seq((1L, "a", "2026-01-01"), (2L, "b", "2026-01-01"),
      (3L, "c", "2026-01-02"), (4L, "d", "2026-01-02"))
      .toDF("id", "s", "dt")
    src.write.partitionBy("dt").parquet(p)
    val before = spark.read.parquet(p).select($"id", $"s", $"dt")
      .collect().map(_.toString).toSet
    val r = spark.sql(s"CONVERT TO GRAFT parquet.`$p` STATSCOLS (id)")
      .collect().head
    assert(r.getLong(0) == 1L && r.getInt(1) >= 2, r.toString)
    // the adopted table serves the same rows, partition dimension intact
    val t = spark.read.format("graft-table").load(p)
    assert(t.columns.toSeq == Seq("id", "s", "dt"))
    assert(t.select($"id", $"s", $"dt").collect().map(_.toString).toSet == before)
    assert(VersionedTable.partitionColsOf(t.schema) == Seq("dt"))
    // partition pruning works on the converted layout (no token dirs)
    assert(spark.sql(s"SELECT count(*) FROM graft.`$p` WHERE dt = '2026-01-01'")
      .collect().head.getLong(0) == 2L)
    // a CoW verb on adopted files: DELETE rewrites only the touched ones,
    // and the surviving rows keep their FULL values — the partition column
    // must survive the rewrite (the file-key join must resolve adopted
    // token-less paths, not silently null dt)
    spark.sql(s"DELETE FROM graft.`$p` WHERE id = 1")
    assert(spark.read.format("graft-table").load(p)
      .select($"id", $"s", $"dt").collect().map(_.toString).toSet ==
      (before - "[1,a,2026-01-01]"))
    assert(spark.sql(s"SELECT count(*) FROM graft.`$p` WHERE dt = '2026-01-01'")
      .collect().head.getLong(0) == 1L)
    // time travel still serves the adopted snapshot
    assert(VersionedTable.read(spark, p, Some(1L)).count() == 4)
    // deletion vectors on adopted files: the scan-side file key must match
    // the manifest key for token-less paths, or the marks never apply
    VersionedTable.delete(spark, p, $"id" === 2L, purgeFraction = 1.0)
    assert(spark.read.format("graft-table").load(p)
      .select($"id").collect().map(_.getLong(0)).toSet == Set(3L, 4L))
    // refusals: double-convert, and a root-level parquet file
    val e = intercept[Exception] { VersionedTable.convertToGraft(spark, p) }
    assert(messagesOf(e).contains("already a graft table"), messagesOf(e))
    val p2 = Files.createTempDirectory("graft-convert2").toString + "/t"
    Seq((1L, "x")).toDF("id", "s").coalesce(1).write.parquet(p2 + "/sub")
    new java.io.File(p2 + "/sub").listFiles()
      .filter(_.getName.endsWith(".parquet")).foreach { fl =>
        java.nio.file.Files.copy(fl.toPath,
          java.nio.file.Paths.get(p2, "loose.parquet"))
      }
    val e2 = intercept[Exception] { VersionedTable.convertToGraft(spark, p2) }
    assert(messagesOf(e2).contains("table root"), messagesOf(e2))
  }

  test("CONVERT TO GRAFT: two-level partitions round-trip values and DVs at depth") {
    val p = Files.createTempDirectory("graft-convert3").toString + "/t"
    Seq((1L, "2026-01-01", 0), (2L, "2026-01-01", 1), (3L, "2026-01-02", 0))
      .toDF("id", "dt", "h").write.partitionBy("dt", "h").parquet(p)
    VersionedTable.convertToGraft(spark, p)
    val t = spark.read.format("graft-table").load(p)
    assert(t.select($"id", $"dt", $"h").collect().map(_.toString).toSet ==
      Set("[1,2026-01-01,0]", "[2,2026-01-01,1]", "[3,2026-01-02,0]"))
    // depth-2 adopted paths: CoW rewrite keeps both partition values
    spark.sql(s"UPDATE graft.`$p` SET id = id + 10 WHERE h = 1")
    assert(spark.read.format("graft-table").load(p)
      .select($"id", $"dt", $"h").collect().map(_.toString).toSet ==
      Set("[1,2026-01-01,0]", "[12,2026-01-01,1]", "[3,2026-01-02,0]"))
    // depth-2 DV: scan-side key must equal the full dir-relative manifest key
    VersionedTable.delete(spark, p, $"id" === 3L, purgeFraction = 1.0)
    assert(spark.read.format("graft-table").load(p)
      .select($"id").collect().map(_.getLong(0)).toSet == Set(1L, 12L))
  }

  test("REORG TABLE APPLY (PURGE) materializes DV marks; re-run is a no-op") {
    val p = tmp()
    VersionedTable.write(
      (1L to 100L).map(i => (i, s"r$i")).toDF("id", "s").repartition(4), p)
    // pure merge-on-read marks (opted out of auto-purge)
    VersionedTable.delete(spark, p, $"id" % 10 === 0, purgeFraction = 1.0)
    def dvDeletedAt(v: Long): Long = VersionedTable.history(spark, p)
      .filter($"version" === v).collect().head.getAs[Long]("num_dv_deleted")
    val before = VersionedTable.read(spark, p)
    assert(before.count() == 90)
    assert(dvDeletedAt(2L) == 10L, "expected live DV marks before REORG")
    val beforeRows = rows(before)
    val v = spark.sql(s"REORG TABLE ${sqlName(p)} APPLY (PURGE)")
      .collect().head.getLong(0)
    assert(v == 3L)
    val after = VersionedTable.read(spark, p)
    assert(after.count() == 90)
    assert(dvDeletedAt(3L) == 0L, "REORG must materialize away every mark")
    assert(rows(after) == beforeRows)
    // nothing marked → no-op, head unchanged
    assert(spark.sql(s"REORG TABLE ${sqlName(p)} APPLY (PURGE)")
      .collect().head.getLong(0) == 3L)
  }

  test("GENERATED ALWAYS AS partition column: DDL → fill → directory pruning") {
    val p = tmp()
    spark.sql(s"CREATE TABLE ${sqlName(p)} (id BIGINT, ts TIMESTAMP, " +
      "p_date DATE GENERATED ALWAYS AS (CAST(ts AS DATE))) " +
      "PARTITIONED BY (p_date)")
    // the recorded schema carries NO engine metadata; the declaration
    // rides table properties like constraints do
    assert(VersionedTable.generatedColumnsOf(spark, p) ==
      Map("p_date" -> "CAST(ts AS DATE)"))
    // a DataFrame append OMITTING the partition column: generation feeds
    // the hive layout — the reference's derived-p_event_date contract with
    // the derivation owned by the table, not every writer
    VersionedTable.append(Seq(
      (1L, java.sql.Timestamp.valueOf("2026-01-01 10:00:00")),
      (2L, java.sql.Timestamp.valueOf("2026-01-02 11:00:00")))
      .toDF("id", "ts"), p)
    assert(VersionedTable.filesOf(spark, p,
      VersionedTable.latestVersion(spark, p).get).forall(_.contains("/p_date=")))
    assert(rows(spark.sql(
      s"SELECT id, p_date FROM ${sqlName(p)} WHERE p_date = DATE'2026-01-01'")) ==
      Set("[1,2026-01-01]"))
    // SQL INSERT supplying a CONSISTENT value passes; a wrong one refuses
    // atomically (Delta's explicit-value-must-match rule)
    spark.sql(s"INSERT INTO ${sqlName(p)} VALUES " +
      "(3, TIMESTAMP'2026-01-03 09:00:00', DATE'2026-01-03')")
    val vBefore = VersionedTable.latestVersion(spark, p).get
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO ${sqlName(p)} VALUES " +
        "(4, TIMESTAMP'2026-01-04 09:00:00', DATE'1999-01-01')") }
    assert(messagesOf(e).contains("generated column 'p_date'"), messagesOf(e))
    assert(VersionedTable.latestVersion(spark, p).contains(vBefore))
    // declaration contract violations refuse the CREATE itself
    val p2 = tmp()
    val e2 = intercept[Exception] {
      spark.sql(s"CREATE TABLE ${sqlName(p2)} (id BIGINT, " +
        "b BIGINT GENERATED ALWAYS AS (rand()))") }
    assert(messagesOf(e2).contains("deterministic") ||
      messagesOf(e2).contains("must equal the declared type"), messagesOf(e2))
    assert(VersionedTable.latestVersion(spark, p2).isEmpty)
  }

  test("GENERATED ALWAYS AS IDENTITY through CREATE TABLE DDL") {
    val p = tmp()
    spark.sql(s"CREATE TABLE ${sqlName(p)} (id BIGINT GENERATED ALWAYS AS " +
      "IDENTITY (START WITH 100 INCREMENT BY 10), v STRING)")
    assert(VersionedTable.identityColumnsOf(spark, p) ==
      Map("id" -> VersionedTable.IdentitySpec(100L, 10L, allowExplicit = false)))
    // DataFrame appends omit the column; allocation is dense per commit
    VersionedTable.append(Seq("a", "b").toDF("v"), p)
    VersionedTable.append(Seq("c").toDF("v"), p)
    assert(rows(spark.sql(s"SELECT id, v FROM ${sqlName(p)}")) ==
      Set("[100,a]", "[110,b]", "[120,c]"))
    // ALWAYS: an explicit SQL INSERT refuses naming the contract
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO ${sqlName(p)} VALUES (999, 'x')") }
    assert(messagesOf(e).contains("GENERATED ALWAYS AS IDENTITY"), messagesOf(e))
    // BY DEFAULT: explicit values pass through, absent ones still allocate
    val p2 = tmp()
    spark.sql(s"CREATE TABLE ${sqlName(p2)} (id BIGINT GENERATED BY DEFAULT " +
      "AS IDENTITY, v STRING)")
    spark.sql(s"INSERT INTO ${sqlName(p2)} VALUES (999, 'x')")
    VersionedTable.append(Seq("y").toDF("v"), p2)
    assert(rows(spark.sql(s"SELECT id, v FROM ${sqlName(p2)}")) ==
      Set("[999,x]", "[1,y]"))
  }

  test("CLUSTER BY declaration: plain OPTIMIZE applies the declared clustering") {
    val p = tmp()
    spark.sql(s"CREATE TABLE ${sqlName(p)} (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('graft.clusterBy'='id', 'statsCols'='id')")
    // four interleaved files: every file covers the FULL id range, so no
    // equality band can prune anything before clustering
    // ids spread over the full 16-bit z-space so clustering yields
    // multiple aligned tiles (tiny ids would all land in tile 0)
    (0 until 4).foreach { i =>
      VersionedTable.append((0L until 400L).filter(_ % 4 == i)
        .map(x => (x * 163L, s"v$x")).toDF("id", "v").coalesce(1), p)
    }
    val allBefore = VersionedTable.filesOf(spark, p,
      VersionedTable.latestVersion(spark, p).get).size
    val before = VersionedTable.pruneInfo(spark, p,
      col("id").between(0L, 4000L))._1.size
    assert(before == allBefore,
      s"interleaved files must all survive pruning: $before of $allBefore")
    // NO zorder clause — the declared clustering applies
    spark.sql(s"OPTIMIZE ${sqlName(p)}")
    val files = VersionedTable.filesOf(spark, p,
      VersionedTable.latestVersion(spark, p).get)
    val after = VersionedTable.pruneInfo(spark, p,
      col("id").between(0L, 4000L))._1.size
    assert(after < files.size,
      s"declared clustering must make the band prunable ($after of ${files.size})")
    // rows unchanged
    assert(spark.sql(s"SELECT COUNT(*) FROM ${sqlName(p)}")
      .collect().head.getLong(0) == 400L)
    // the declaration follows a rename like the bloom hint does
    spark.sql(s"ALTER TABLE ${sqlName(p)} RENAME COLUMN id TO uid")
    assert(VersionedTable.propertiesOf(spark, p)
      .get("graft.clusterBy").contains("uid"))
  }

  test("CREATE TABLE TBLPROPERTIES cannot smuggle generation/identity keys") {
    val p = tmp()
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE ${sqlName(p)} (a INT, b INT) " +
        "TBLPROPERTIES ('graft.generated.b'='CAST(rand()*10 AS INT)')") }
    assert(messagesOf(e).contains("column list"), messagesOf(e))
    assert(VersionedTable.latestVersion(spark, p).isEmpty)
    val e2 = intercept[Exception] {
      spark.sql(s"CREATE TABLE ${sqlName(p)} (a BIGINT, b INT) " +
        "TBLPROPERTIES ('graft.identity.a'='start=1;step=0;explicit=false')") }
    assert(messagesOf(e2).contains("column list"), messagesOf(e2))
    assert(VersionedTable.latestVersion(spark, p).isEmpty)
  }

  test("UPDATE that breaks a generation refuses naming the generated column") {
    val p = tmp()
    VersionedTable.write(Seq((1L, 10L, 20L)).toDF("id", "n", "dbl"), p)
    VersionedTable.setGeneratedColumn(spark, p, "dbl", "n * 2")
    // consistent UPDATE (sets both) passes
    spark.sql(s"UPDATE ${sqlName(p)} SET n = 11, dbl = 22 WHERE id = 1")
    assert(rows(spark.sql(s"SELECT * FROM ${sqlName(p)}")) == Set("[1,11,22]"))
    // stale-derived-value UPDATE refuses, version unchanged
    val vBefore = VersionedTable.latestVersion(spark, p).get
    val e = intercept[Exception] {
      spark.sql(s"UPDATE ${sqlName(p)} SET n = 12 WHERE id = 1") }
    assert(messagesOf(e).contains("generated column 'dbl'"), messagesOf(e))
    assert(VersionedTable.latestVersion(spark, p).contains(vBefore))
    assert(rows(spark.sql(s"SELECT * FROM ${sqlName(p)}")) == Set("[1,11,22]"))
  }

  test("CREATE/REFRESH MATERIALIZED VIEW: incremental view DDL end to end") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-mv").toString
    val src = base + "/src"; val mv = base + "/mv"
    graft.sources.VersionedTable.write(
      (1L to 60L).map(i => (i, "g" + i % 3, i)).toDF("id", "g", "v"), src,
      statsCols = Seq("id"))
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$mv` AS " +
      s"SELECT g, COUNT(*), SUM(v) FROM graft.`$src` GROUP BY g")
    def viewNow() = spark.sql(s"SELECT * FROM graft.`$mv`").collect()
      .map(r => r.getAs[String]("g") ->
        (r.getAs[Long]("mv_count"), r.getAs[Long]("sum_v"))).toMap
    def expect() = spark.sql(s"SELECT g, COUNT(*) c, SUM(v) s FROM graft.`$src` GROUP BY g")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(viewNow() == expect())
    // DML on the source, then SQL refresh applies only the delta
    spark.sql(s"DELETE FROM graft.`$src` WHERE id % 2 = 0")
    val v1 = spark.sql(s"REFRESH MATERIALIZED VIEW graft.`$mv`")
      .collect().head.getLong(0)
    assert(viewNow() == expect())
    // refresh without source motion: same version comes back, no commit
    val v2 = spark.sql(s"REFRESH MATERIALIZED VIEW graft.`$mv`")
      .collect().head.getLong(0)
    assert(v2 == v1)
    // MIN/MAX are maintainable (fold + per-group repair); AVG and other
    // shapes are refused — they derive at query time or need full multisets
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`${base}/mv2` AS " +
      s"SELECT g, COUNT(*), MIN(v), MAX(v) FROM graft.`$src` GROUP BY g")
    val mm = spark.sql(s"SELECT * FROM graft.`${base}/mv2`").collect()
      .map(r => r.getAs[String]("g") ->
        (r.getAs[Long]("min_v"), r.getAs[Long]("max_v"))).toMap
    val mmExpect = spark.sql(
      s"SELECT g, MIN(v), MAX(v) FROM graft.`$src` GROUP BY g").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(mm == mmExpect)
    // DESCRIBE DETAIL surfaces the MV facts on both sides of the edge:
    // the view names its source, watermark, and rewrite-would-fire;
    // the source names its registered views. (mv2's own registration
    // bumped the source, so mv — refreshed before that — reads stale, and
    // mv2 — created at the new head — reads fresh: both are the truth.)
    def detail(t: String) = spark.sql(s"DESCRIBE DETAIL graft.`$t`")
      .collect().head
    val mv2 = s"${base}/mv2"
    val dv = detail(mv2)
    assert(dv.getAs[String]("mv_source") == src)
    assert(dv.getAs[Boolean]("mv_fresh"), "a just-created view reads fresh")
    assert(dv.getAs[Long]("mv_watermark") ==
      VersionedTable.latestVersion(spark, src).get)
    assert(!detail(mv).getAs[Boolean]("mv_fresh"),
      "mv2's registration moved the source past mv's watermark")
    val views = detail(src).getAs[String]("mv_views").split(",")
    assert(views.contains(mv) && views.contains(mv2), views.mkString(","))
    // a source mutation flips mv2's freshness off until the next refresh
    spark.sql(s"DELETE FROM graft.`$src` WHERE id = 3")
    assert(!detail(mv2).getAs[Boolean]("mv_fresh"))
    spark.sql(s"REFRESH MATERIALIZED VIEW graft.`$mv2`")
    assert(detail(mv2).getAs[Boolean]("mv_fresh"))
    // plain tables answer null, not false — "not a view" is not "stale"
    assert(detail(src).isNullAt(detail(src).fieldIndex("mv_fresh")))
    // SHOW MATERIALIZED VIEWS ON src: roster + definitions + freshness
    val shown = spark.sql(s"SHOW MATERIALIZED VIEWS ON graft.`$src`")
      .collect().map(r => r.getAs[String]("view") ->
        (r.getAs[String]("aggregates"), r.getAs[Boolean]("fresh"))).toMap
    assert(shown.keySet == Set(mv, mv2), shown.keySet.toString)
    assert(shown(mv2)._1 == "COUNT(*),MIN(v),MAX(v)", shown(mv2)._1)
    assert(shown(mv2)._2, "mv2 was just refreshed — fresh")
    assert(!shown(mv)._2, "mv's watermark is behind the source head")
    // DROP TABLE on a view unregisters it from the source's roster, so
    // the rewrite rule stops probing a path that no longer exists
    spark.sql(s"DROP TABLE graft.`$mv2`")
    val after = detail(src).getAs[String]("mv_views").split(",")
    assert(after.contains(mv) && !after.contains(mv2), after.mkString(","))
    assert(spark.sql(s"SHOW MATERIALIZED VIEWS ON graft.`$src`")
      .collect().map(_.getString(0)).toSeq == Seq(mv))
    // AVG(v) maintains as its exact components: the view stores
    // sum_v + nn_v and the mean derives at query time
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`${base}/mv3` AS " +
      s"SELECT g, COUNT(*), AVG(v) FROM graft.`$src` GROUP BY g")
    val avg = spark.sql(
      s"SELECT g, sum_v / nn_v AS a FROM graft.`${base}/mv3`").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val avgExpect = spark.sql(
      s"SELECT g, SUM(v) / COUNT(v) AS a FROM graft.`$src` GROUP BY g")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(avg == avgExpect)
  }

  test("JOIN materialized view DDL: star view creates, refreshes, and rewrites") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-mvj").toString
    val fact = base + "/fact"; val dim = base + "/dim"; val mv = base + "/mv"
    VersionedTable.write(
      (1L to 80L).map(i => (i, i % 8, i)).toDF("id", "fk", "v"), fact,
      statsCols = Seq("id"))
    VersionedTable.write(
      (0L to 7L).map(k => (k, "b" + k % 2)).toDF("pk", "brand"), dim,
      statsCols = Seq("pk"))
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$mv` AS " +
      s"SELECT brand, COUNT(*), SUM(v) FROM graft.`$fact` " +
      s"JOIN graft.`$dim` ON fk = pk GROUP BY brand")
    def expect() = spark.sql(
      s"SELECT brand, COUNT(*) c, SUM(v) s FROM graft.`$fact` " +
        s"JOIN graft.`$dim` ON fk = pk GROUP BY brand")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    def viewNow() = spark.sql(s"SELECT * FROM graft.`$mv`").collect()
      .map(r => r.getAs[String]("brand") ->
        (r.getAs[Long]("mv_count"), r.getAs[Long]("sum_v"))).toMap
    assert(viewNow() == expect())
    spark.sql(s"DELETE FROM graft.`$fact` WHERE id % 3 = 0")
    spark.sql(s"REFRESH MATERIALIZED VIEW graft.`$mv`")
    assert(viewNow() == expect())
    // the SQL star aggregate itself answers from the view
    val q = spark.sql(s"SELECT brand, COUNT(*) AS n, SUM(v) AS s " +
      s"FROM graft.`$fact` JOIN graft.`$dim` ON fk = pk GROUP BY brand")
    val roots = org.apache.spark.sql.graft.GraftBatchShim.scanRootsOf(q)
      .map(_.toString)
    assert(roots.contains(mv) && !roots.contains(fact), roots.toString)
    // DESCRIBE DETAIL shows the pinned dim and its live state
    def mvJoinFact() = spark.sql(s"DESCRIBE DETAIL graft.`$mv`")
      .collect().head.getAs[String]("mv_join")
    assert(mvJoinFact() == s"$dim@2(fk=pk)[armed]", mvJoinFact())
    // dim motion: plain REFRESH folds the dim's change feed in
    // incrementally (the SQL verb rides the same refresh(); the pin
    // advances atomically with the merge and re-arms the DESCRIBE state)
    VersionedTable.append(Seq((8L, "bNEW")).toDF("pk", "brand"), dim)
    assert(mvJoinFact().endsWith("[stale]"), mvJoinFact())
    VersionedTable.append(Seq((500L, 8L, 9L)).toDF("id", "fk", "v"), fact)
    spark.sql(s"REFRESH MATERIALIZED VIEW graft.`$mv`")
    assert(viewNow() == expect())
    assert(viewNow().contains("bNEW"))
    assert(mvJoinFact() == s"$dim@3(fk=pk)[armed]", mvJoinFact())
    // FULL remains the explicit rebuild verb
    spark.sql(s"REFRESH MATERIALIZED VIEW graft.`$mv` FULL")
    assert(viewNow() == expect())
  }

  test("SHOW CREATE TABLE emits replayable DDL: columns, declarations, constraint") {
    val p = tmp() + "/t"
    spark.sql(s"CREATE TABLE ${sqlName(p)} (id BIGINT GENERATED ALWAYS AS " +
      "IDENTITY (START WITH 5 INCREMENT BY 5), v DOUBLE, ts TIMESTAMP, " +
      "p_date DATE GENERATED ALWAYS AS (CAST(ts AS DATE))) " +
      "PARTITIONED BY (p_date) " +
      "TBLPROPERTIES ('graft.bloomCols' = 'v')")
    spark.sql(s"ALTER TABLE ${sqlName(p)} ADD CONSTRAINT v_pos CHECK (v > 0)")
    val stmt = spark.sql(s"SHOW CREATE TABLE ${sqlName(p)}")
      .collect().head.getString(0)
    assert(stmt.contains("GENERATED ALWAYS AS IDENTITY (START WITH 5 " +
      "INCREMENT BY 5)") &&
      stmt.contains("GENERATED ALWAYS AS (CAST(ts AS DATE))") &&
      stmt.contains("PARTITIONED BY (`p_date`)") &&
      stmt.contains("'graft.bloomCols' = 'v'") &&
      stmt.contains("ADD CONSTRAINT `v_pos` CHECK (v > 0)"), stmt)
    // the emitted statements REPLAY onto a fresh path, declaration for
    // declaration (the whole point of the verb)
    val p2 = tmp() + "/t2"
    stmt.replace(p, p2).split(";\n").map(_.trim).filter(_.nonEmpty)
      .foreach(spark.sql(_))
    assert(VersionedTable.identityColumnsOf(spark, p2) ==
      VersionedTable.identityColumnsOf(spark, p))
    assert(VersionedTable.generatedColumnsOf(spark, p2) ==
      VersionedTable.generatedColumnsOf(spark, p))
    assert(VersionedTable.checkConstraintsOf(spark, p2) ==
      VersionedTable.checkConstraintsOf(spark, p))
    // the replayed table enforces and generates like the original
    // (identity columns are always-generated: appends must omit them)
    VersionedTable.append(Seq((1.5,
      java.sql.Timestamp.valueOf("2026-01-02 03:04:05"))).toDF("v", "ts"), p2)
    val r = spark.sql(s"SELECT id, p_date FROM ${sqlName(p2)}").collect().head
    assert(r.getLong(0) == 5L && r.getDate(1).toString == "2026-01-02")
    val e = intercept[Exception] {
      VersionedTable.append(Seq((-1.0,
        java.sql.Timestamp.valueOf("2026-01-02 03:04:05"))).toDF("v", "ts"), p2)
    }
    assert(e.getMessage.contains("v_pos"), e.getMessage)
    // engine-managed state never leaks into the DDL
    assert(!stmt.contains("graft.mv.") && !stmt.contains("graft.constraint.") &&
      !stmt.contains("graft.identity") && !stmt.contains("graft.generated"))
  }

  test("SHOW CREATE TABLE: bucket layout as CLUSTERED BY; escaping round-trips") {
    val p = tmp() + "/b"
    spark.sql(s"CREATE TABLE ${sqlName(p)} (k BIGINT, v STRING) " +
      "CLUSTERED BY (k) SORTED BY (v) INTO 4 BUCKETS")
    val stmt = spark.sql(s"SHOW CREATE TABLE ${sqlName(p)}")
      .collect().head.getString(0)
    // the layout is the CLAUSE the grammar accepts, never raw properties
    assert(stmt.contains("CLUSTERED BY (`k`) SORTED BY (`v`) INTO 4 BUCKETS"),
      stmt)
    assert(!stmt.contains("graft.bucketBy") && !stmt.contains("graft.numBuckets")
      && !stmt.contains("graft.bucketSortBy"), stmt)
    val p2 = tmp() + "/b2"
    stmt.replace(p, p2).split(";\n").map(_.trim).filter(_.nonEmpty)
      .foreach(spark.sql(_))
    val props2 = graft.sources.VersionedTable.propertiesOf(spark, p2)
    assert(props2.get("graft.bucketBy").contains("k") &&
      props2.get("graft.numBuckets").contains("4") &&
      props2.get("graft.bucketSortBy").contains("v"), props2.toString)
    // a quote-bearing property value and a backtick-bearing column name
    // survive the emit → replay cycle (doubling, not backslash escapes)
    val p3 = tmp() + "/q"
    spark.sql(s"CREATE TABLE ${sqlName(p3)} (`we``ird` BIGINT, v STRING) " +
      "TBLPROPERTIES ('note' = 'it''s quoted')")
    val stmt3 = spark.sql(s"SHOW CREATE TABLE ${sqlName(p3)}")
      .collect().head.getString(0)
    assert(stmt3.contains("'note' = 'it''s quoted'") &&
      stmt3.contains("`we``ird` BIGINT"), stmt3)
    val p4 = tmp() + "/q2"
    stmt3.replace(p3, p4).split(";\n").map(_.trim).filter(_.nonEmpty)
      .foreach(spark.sql(_))
    assert(graft.sources.VersionedTable.propertiesOf(spark, p4)
      .get("note").contains("it's quoted"))
    assert(spark.sql(s"SELECT * FROM ${sqlName(p4)}")
      .columns.toSeq == Seq("we`ird", "v"))
  }

  test("DESCRIBE DETAIL surfaces the distinct tuples and helper freshness") {
    val base = tmp(); val src = s"$base/src"; val mv = s"$base/mv"
    VersionedTable.write((1L to 40L).map(i => ("g" + i % 3, i % 7, i))
      .toDF("g", "u", "v"), src, statsCols = Seq("g"))
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$mv` AS " +
      s"SELECT g, COUNT(*), COUNT(DISTINCT u), COUNT(DISTINCT u, v) " +
      s"FROM graft.`$src` GROUP BY g")
    def detail() = spark.sql(s"DESCRIBE DETAIL graft.`$mv`").collect().head
    val d0 = detail()
    assert(d0.getAs[String]("mv_distinct") == "u,u|v",
      d0.getAs[String]("mv_distinct"))
    // the DistinctColsKey rides its dedicated column, not the props blob
    assert(!d0.getAs[String]("properties").contains("distinctCols"))
    val helpers = d0.getAs[String]("mv_helpers")
    val hpU = graft.sources.MaterializedView.distinctHelperPath(mv, "u")
    val hpUV = graft.sources.MaterializedView
      .distinctHelperPath(mv, Seq("u", "v"))
    assert(helpers.contains(s"$hpU@") && helpers.contains(s"$hpUV@") &&
      helpers.split(";").forall(_.endsWith("[fresh]")), helpers)
    // a source commit without a refresh: the VIEW goes unfresh while the
    // helpers stay in step with it (they track the view, not the source)
    VersionedTable.append(Seq(("g0", 99L, 41L)).toDF("g", "u", "v"), src)
    val d1 = detail()
    assert(d1.getAs[Boolean]("mv_fresh") == false)
    assert(d1.getAs[String]("mv_helpers")
      .split(";").forall(_.endsWith("[fresh]")))
    // refresh re-arms everything; the helper watermarks advanced with it
    spark.sql(s"REFRESH MATERIALIZED VIEW graft.`$mv`")
    val d2 = detail()
    assert(d2.getAs[Boolean]("mv_fresh") == true)
    val wm = d2.getAs[Long]("mv_watermark")
    assert(d2.getAs[String]("mv_helpers").split(";").forall(h =>
      h.contains(s"@$wm[") && h.endsWith("[fresh]")),
      d2.getAs[String]("mv_helpers"))
    // plain tables show empty distinct state
    val dSrc = spark.sql(s"DESCRIBE DETAIL graft.`$src`").collect().head
    assert(dSrc.getAs[String]("mv_distinct").isEmpty &&
      dSrc.getAs[String]("mv_helpers").isEmpty)
  }
}
