package graft

import org.scalacheck.Gen
import org.apache.spark.sql.functions._

import graft.creatorops.{Bronze, Fixtures, Gold, Silver}

/** ScalaCheck properties over the pipeline invariants (SURVEY.md §5):
  * generated random inputs, structural guarantees that must hold for ALL of
  * them — complementing the example-based specs.
  */
class PropertySpec extends SparkSpec {

  /** deterministic-enough sampling from a ScalaCheck Gen (plain scalacheck,
    * no scalatestplus bridge in the offline dep set) */
  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    Iterator.continually(g.sample).flatten.take(n).toSeq

  private val eventTypeGen = Gen.oneOf(
    graft.creatorops.EventSchema.EventTypes ++ Seq("bogus", "nope"))
  private val versionGen = Gen.chooseNum(-1, 3)
  private val scoreGen = Gen.chooseNum(-50.0, 150.0)

  private val eventGen: Gen[String] = for {
    id <- Gen.alphaNumStr.map(s => "E" + s.take(8))
    t <- eventTypeGen
    v <- versionGen
    score <- scoreGen
  } yield Fixtures.valid(id = id, eventType = t, version = v,
    metrics = f"""{"engagementScore": "$score%.2f"}""")

  test("property: good ∪ rejects partitions every bronze row, for any input") {
    samples(Gen.listOfN(30, eventGen), 5).filter(_.nonEmpty).foreach { lines =>
      {
        val bronze = Bronze.ingest(spark, Seq(Fixtures.writeNdjson(lines)))
        val r = Silver.transform(bronze, dedupe = false)
        assert(r.events.count() + r.rejects.count() == lines.size.toLong)
      }
    }
  }

  test("property: dropoff_rate always in [0,1] and consistent with counts") {
    samples(Gen.listOfN(40, eventGen), 5).filter(_.nonEmpty).foreach { lines =>
      {
        val silver = Silver.transform(
          Bronze.ingest(spark, Seq(Fixtures.writeNdjson(lines)))).events
        val rows = Gold.dropoffRate(silver, asOf = lit("2026-02-01").cast("date"))
          .select("dropoff_rate", "dropoff_events", "total_events").collect()
        rows.foreach { r =>
          val rate = r.getDouble(0)
          assert(rate >= 0.0 && rate <= 1.0)
          assert(r.getLong(2) == 0L || rate == r.getLong(1).toDouble / r.getLong(2))
        }
      }
    }
  }

  test("property: band10 output is always null or a multiple of 10 in [0,100]") {
    samples(Gen.nonEmptyListOf(Gen.option(Gen.chooseNum(-1e6, 1e6))), 10).foreach { xs =>
      {
        import spark.implicits._
        val got = xs.toDF("s").select(Gold.band10(col("s"))).collect()
          .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
        got.zip(xs).foreach {
          case (None, x) => assert(x.isEmpty)
          case (Some(b), _) =>
            assert(b >= 0.0 && b <= 100.0 && b % 10.0 == 0.0)
        }
      }
    }
  }

  test("property: copy-on-write upsert ≡ full merge, for any clustering and update set") {
    import graft.sources.VersionedTable
    // random base layouts (clustered and not, with and without stats) ×
    // random update key sets (inside / outside / straddling file bounds):
    // the file-granular merge must be value-identical to the naive
    // anti-join ∪ updates merge in every case
    val layoutGen = Gen.oneOf("range", "random", "nostats")
    val caseGen = for {
      layout <- layoutGen
      lo <- Gen.chooseNum(0, 900)
      span <- Gen.chooseNum(1, 150)
      outside <- Gen.chooseNum(0, 5) // extra pure-insert keys
    } yield (layout, lo, span, outside)
    samples(caseGen, 6).foreach { case (layout, lo, span, outside) =>
      val path = java.nio.file.Files.createTempDirectory("cowprop").toString + "/t"
      val base = spark.range(0, 1000).select(
        col("id"), concat(lit("v"), col("id")).as("v"))
      layout match {
        case "range" =>
          VersionedTable.write(base.repartitionByRange(5, col("id")), path, Seq("id"))
        case "random" =>
          VersionedTable.write(base.repartition(5), path, Seq("id"))
        case "nostats" =>
          VersionedTable.write(base.repartition(5), path, Nil)
      }
      val updates = spark.range(lo, lo + span)
        .unionAll(spark.range(2000, 2000 + outside))
        .select(col("id"), lit("UP").as("v"))
      VersionedTable.upsert(updates, path, Seq("id"))
      val got = VersionedTable.read(spark, path)
      val want = base.join(updates.select("id"), Seq("id"), "left_anti").unionByName(updates)
      assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
        s"layout=$layout lo=$lo span=$span outside=$outside")
    }
  }

  test("property: DELETE ≡ filter, for any predicate band and layout") {
    import graft.sources.VersionedTable
    val caseGen = for {
      clustered <- Gen.oneOf(true, false)
      lo <- Gen.chooseNum(-100, 1000)
      span <- Gen.chooseNum(1, 300)
    } yield (clustered, lo, span)
    samples(caseGen, 5).foreach { case (clustered, lo, span) =>
      val path = java.nio.file.Files.createTempDirectory("delprop").toString + "/t"
      val base = spark.range(0, 1000).select(
        col("id"), concat(lit("v"), col("id")).as("v"))
      VersionedTable.write(
        if (clustered) base.repartitionByRange(5, col("id")) else base.repartition(5),
        path, Seq("id"))
      val pred = col("id").between(lo, lo + span)
      VersionedTable.delete(spark, path, pred)
      val got = VersionedTable.read(spark, path)
      val want = base.filter(!pred)
      assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
        s"clustered=$clustered lo=$lo span=$span")
    }
  }

  test("property: random DDL/write sequences ≡ model (column-mapping soundness)") {
    import graft.sources.VersionedTable
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    // a table driven by a random interleaving of ADD/DROP COLUMN, append,
    // upsert, and DELETE must match a driver-side model at every step —
    // in particular a re-ADD of a dropped name must read null everywhere
    // the model says null (the resurrection bug class), and every recorded
    // version must time-travel to its own snapshot under its own mapping
    val pool = Seq(("x", IntegerType), ("y", StringType), ("a", IntegerType))
    samples(Gen.chooseNum(0L, 10000L), 3).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val path = java.nio.file.Files.createTempDirectory("ddlprop").toString + "/t"
      var cols = Vector[(String, DataType)](("id", LongType), ("a", IntegerType))
      var rows = Map.empty[Long, Map[String, Any]]
      var nextId = 0L
      def freshRow(step: Int): (Long, Map[String, Any]) = {
        val id = nextId; nextId += 1
        id -> (cols.map {
          case ("id", _) => "id" -> id
          case (n, IntegerType) => n -> (id + step).toInt
          case (n, _) => n -> s"$n-$id-$step"
        }.toMap)
      }
      def toDf(rs: Seq[Map[String, Any]]) = spark.createDataFrame(
        rs.map(m => org.apache.spark.sql.Row.fromSeq(
          cols.map { case (n, _) => m.getOrElse(n, null) })).asJava,
        StructType(cols.map { case (n, t) => StructField(n, t, nullable = true) }))
      def check(label: String): Unit = {
        val got = VersionedTable.read(spark, path).collect().map { r =>
          cols.indices.map(i => if (r.isNullAt(i)) null else r.get(i)).toVector
        }.sortBy(_.head.asInstanceOf[Long]).toSeq
        val want = rows.toSeq.sortBy(_._1).map { case (_, m) =>
          cols.map { case (n, _) => m.getOrElse(n, null) }.toVector }
        assert(got == want, s"seed=$seed at $label:\n got=$got\nwant=$want")
        assert(VersionedTable.countRows(spark, path) == rows.size.toLong,
          s"seed=$seed at $label: countRows")
      }
      val init = (0 until 8).map(_ => freshRow(0))
      rows = init.toMap
      VersionedTable.write(toDf(init.map(_._2)), path)
      var snapshots = Vector((1L, cols, rows))
      (1 to 10).foreach { step =>
        rnd.nextInt(5) match {
          case 0 => // ADD a pool column not currently live (fresh-binds if dropped before)
            pool.filter(p => !cols.exists(_._1 == p._1)) match {
              case Seq() => ()
              case cands =>
                val (n, t) = cands(rnd.nextInt(cands.size))
                VersionedTable.addColumns(spark, path, Seq(StructField(n, t)))
                cols = cols :+ (n -> t)
            }
          case 1 => // DROP a non-key column
            cols.map(_._1).filter(_ != "id") match {
              case Seq() => ()
              case cands =>
                val n = cands(rnd.nextInt(cands.size))
                VersionedTable.dropColumns(spark, path, Seq(n))
                cols = cols.filterNot(_._1 == n)
                rows = rows.map { case (k, m) => k -> (m - n) }
            }
          case 2 => // append fresh rows
            val batch = (0 until 3).map(_ => freshRow(step))
            VersionedTable.append(toDf(batch.map(_._2)), path)
            rows = rows ++ batch
          case 3 => // upsert: touch some existing + some new keys
            val existing = rows.keys.toSeq.sorted.take(2)
              .map(id => id -> (cols.map {
                case ("id", _) => "id" -> id
                case (n, IntegerType) => n -> (id + step).toInt
                case (n, _) => n -> s"$n-$id-$step"
              }.toMap))
            val fresh = (0 until 2).map(_ => freshRow(step))
            val batch = existing ++ fresh
            VersionedTable.upsert(toDf(batch.map(_._2)), path, Seq("id"))
            rows = rows ++ batch
          case 4 => // DELETE a key band
            val k = 2 + rnd.nextInt(3)
            VersionedTable.delete(spark, path, col("id") % k === 0)
            rows = rows.filter { case (id, _) => id % k != 0 }
        }
        check(s"step $step")
        snapshots = snapshots :+ ((VersionedTable.latestVersion(spark, path).get, cols, rows))
      }
      // every recorded version time-travels to ITS snapshot under ITS schema
      snapshots.takeRight(4).foreach { case (v, vCols, vRows) =>
        val got = VersionedTable.read(spark, path, Some(v)).collect().map { r =>
          vCols.indices.map(i => if (r.isNullAt(i)) null else r.get(i)).toVector
        }.sortBy(_.head.asInstanceOf[Long]).toSeq
        val want = vRows.toSeq.sortBy(_._1).map { case (_, m) =>
          vCols.map { case (n, _) => m.getOrElse(n, null) }.toVector }
        assert(got == want, s"seed=$seed time travel to v$v")
      }
    }
  }

  test("property: dedupe is idempotent and keeps exactly one row per event_id") {
    samples(Gen.chooseNum(1, 4), 3).foreach { copies =>
      val lines = (1 to copies).flatMap(_ =>
        Seq(Fixtures.valid(id = "A"), Fixtures.valid(id = "B")))
      val bronze = Bronze.ingest(spark, Seq(Fixtures.writeNdjson(lines)))
      val once = Silver.transform(bronze).events
      assert(once.select("event_id").distinct().count() == once.count())
      assert(once.count() == 2L)
    }
  }
}
