package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec

class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  test("zValue interleaves bits exactly (reference implementation check)") {
    def ref(a: Long, b: Long, bits: Int): Long = {
      var z = 0L
      for (i <- 0 until bits) {
        z |= ((a >> i) & 1L) << (2 * i + 1)
        z |= ((b >> i) & 1L) << (2 * i)
      }
      z
    }
    val rows = for (a <- 0 until 32; b <- 0 until 32) yield (a, b)
    val got = rows.toDF("a", "b")
      .select(col("a"), col("b"), TableIO.zValue(Seq(col("a"), col("b")), 5).as("z"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    rows.foreach { case (a, b) =>
      assert(got((a, b)) == ref(a, b, 5), s"($a,$b)")
    }
  }

  test("N-dimensional zValue interleaves exactly; 3-D ZORDER prunes ALL three dims") {
    // reference interleave for 3 dims: bit i of col j → position i*3 + (2-j)
    def ref3(a: Long, b: Long, c: Long, bits: Int): Long = {
      var z = 0L
      for (i <- 0 until bits) {
        z |= ((a >> i) & 1L) << (i * 3 + 2)
        z |= ((b >> i) & 1L) << (i * 3 + 1)
        z |= ((c >> i) & 1L) << (i * 3)
      }
      z
    }
    val rows = for (a <- 0 until 8; b <- 0 until 8; c <- 0 until 8) yield (a, b, c)
    val got = rows.toDF("a", "b", "c")
      .select(col("a"), col("b"), col("c"),
        TableIO.zValue(Seq(col("a"), col("b"), col("c")), 3).as("z"))
      .collect().map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)), r.getLong(3))).toMap
    rows.foreach { case (a, b, c) =>
      assert(got((a, b, c)) == ref3(a, b, c, 3), s"($a,$b,$c)")
    }
    // 2-D zValue must stay bit-identical to the 2-D interleave
    val two = Seq((5, 9)).toDF("a", "b")
      .select(TableIO.zValue(Seq(col("a"), col("b")), 5)).head().getLong(0)
    assert(two == ((0 until 5).map(i =>
      (((5 >> i) & 1L) << (2 * i + 1)) | (((9 >> i) & 1L) << (2 * i))).sum))
    // end-to-end: a 3-D z-ordered versioned table prunes on EVERY dimension
    val path = java.nio.file.Files.createTempDirectory("z3").toString + "/t"
    val grid = spark.range(0, 32 * 32 * 32).select(
      (col("id") % 32).cast("int").as("a"),
      ((col("id") / 32) % 32).cast("int").as("b"),
      (col("id") / 1024).cast("int").as("c"))
    VersionedTable.write(grid.transform(d => TableIO.zPlaced(d, Seq("a", "b", "c"), 5)),
      path, Seq("a", "b", "c"))
    for (dim <- Seq("a", "b", "c")) {
      val (kept, skipped) = VersionedTable.pruneInfo(spark, path, col(dim) < 8)
      assert(skipped.nonEmpty, s"one-sided range on $dim must prune")
      assert(VersionedTable.readWhere(spark, path, col(dim) < 8).count() == 8 * 32 * 32)
    }
    val box = col("a").between(4, 7) && col("b").between(12, 15) && col("c").between(20, 23)
    val (kept, skipped) = VersionedTable.pruneInfo(spark, path, box)
    assert(kept.size < skipped.size, s"3-D box must prune most files: ${kept.size}/${skipped.size}")
    assert(VersionedTable.readWhere(spark, path, box).count() == 4 * 4 * 4)
  }

  test("z-order clustering bounds BOTH dimensions per block; lexicographic does not") {
    // 64x64 grid, blocks of 256 rows: along the Z-curve every block is a
    // 16x16 tile (both ranges 15); sorted lexicographically by a, each block
    // spans b's full width — the stats-pruning difference ZORDER exists for
    val grid = (for (a <- 0 until 64; b <- 0 until 64) yield (a, b))
    def maxBRange(sorted: Seq[(Int, Int)]): Int =
      sorted.grouped(256).map(g => g.map(_._2).max - g.map(_._2).min).max
    val zSorted = grid.sortBy { case (a, b) =>
      (0 until 6).map(i => (((a >> i) & 1) << (2 * i + 1)) | (((b >> i) & 1) << (2 * i)))
        .sum
    }
    val lexSorted = grid.sorted
    assert(maxBRange(zSorted) == 15, maxBRange(zSorted).toString)
    assert(maxBRange(lexSorted) == 63)

    // end-to-end: zPlaced places rows by the z-value's top bits
    // (tile-ALIGNED file boundaries — deterministic, unlike sampled range
    // splits, which can straddle a power-of-two z line and emit a file whose
    // stats span b's full width). 8 aligned buckets over a 64x64 grid ⇒
    // every file covers one z-span of 512: b-range ≤ 31, a-range ≤ 15.
    val path = java.nio.file.Files.createTempDirectory("zord").toString + "/t"
    TableIO.write(TableIO.zPlaced(grid.toDF("a", "b"), Seq("a", "b"), 6), path)
    val perFile = spark.read.parquet(path)
      .select(input_file_name().as("f"), col("a"), col("b"))
      .groupBy("f").agg(
        count(lit(1)).as("n"),
        (max("b") - min("b")).as("range_b"),
        (max("a") - min("a")).as("range_a"))
      .collect().map(r => (r.getLong(1), r.getInt(2), r.getInt(3)))
    assert(perFile.length == 8, perFile.mkString(","))
    assert(perFile.forall(_._1 == 512L), perFile.mkString(","))
    assert(perFile.forall(_._2 <= 31), s"aligned z files bound b: $perFile")
    assert(perFile.forall(_._3 <= 15), s"aligned z files bound a: $perFile")
  }

  // ADVICE r8 audit: zOrderBy stages WITHOUT the colMap — deliberately.
  // The rewrite reads the logical view (dataFrameFor binds the mapping),
  // writes logical-named files, and the new manifest drops colmap AND
  // phys_dropped together, so the post-zorder table is self-consistent
  // with the mapping debt shed (rewritten files no longer hold any
  // dropped column's stale bytes). These two tests pin that contract.
  test("ZORDER on a column-mapped table reads back identical values; history intact") {
    import spark.implicits._
    import org.apache.spark.sql.types.{StringType, StructField}
    val p = java.nio.file.Files.createTempDirectory("zorder-cm").toString + "/t"
    val df1 = Seq((1L, 10, "a"), (2L, 20, "b"), (3L, 30, "c"))
      .toDF("id", "score", "name")
    VersionedTable.write(df1, p, Seq("id", "score"))                      // v1
    VersionedTable.dropColumns(spark, p, Seq("name"))                     // v2
    VersionedTable.addColumns(spark, p,                                   // v3: fresh
      Seq(StructField("name", StringType)))                               // physical name
    VersionedTable.append(Seq((4L, 40, "dd"))
      .toDF("id", "score", "name"), p)                                    // v4 mapped file
    val before = VersionedTable.read(spark, p).collect().map(_.toString).toSet
    assert(before == Set("[1,10,null]", "[2,20,null]", "[3,30,null]", "[4,40,dd]"))
    val v = VersionedTable.zOrderBy(spark, p, Seq("id", "score"))
    assert(VersionedTable.read(spark, p).collect().map(_.toString).toSet == before)
    // pre-zorder version still binds its own mapping (time travel intact)
    assert(VersionedTable.read(spark, p, Some(v - 1))
      .collect().map(_.toString).toSet == before)
    // the table keeps working after the mapping is shed
    VersionedTable.append(Seq((5L, 50, "ee")).toDF("id", "score", "name"), p)
    assert(VersionedTable.read(spark, p).count() == 5)
  }

  test("partitioned ZORDER on a column-mapped table stays correct") {
    import spark.implicits._
    import org.apache.spark.sql.types.{StringType, StructField}
    val p = java.nio.file.Files.createTempDirectory("zorder-cmp").toString + "/t"
    val df1 = Seq((1L, 5, "x", "d1"), (2L, 6, "y", "d1"), (3L, 7, "z", "d2"))
      .toDF("id", "score", "name", "dt")
    VersionedTable.write(df1, p, Seq("id"), Seq("dt"))
    VersionedTable.dropColumns(spark, p, Seq("name"))
    VersionedTable.addColumns(spark, p, Seq(StructField("name", StringType)))
    VersionedTable.append(Seq((4L, 8, "w", "d2"))
      .toDF("id", "score", "name", "dt"), p)
    val before = VersionedTable.read(spark, p)
      .select("id", "score", "name", "dt").collect().map(_.toString).toSet
    VersionedTable.zOrderBy(spark, p, Seq("id", "score"), 16)
    val after = VersionedTable.read(spark, p)
      .select("id", "score", "name", "dt").collect().map(_.toString).toSet
    assert(after == before)
    // partition pruning still works on the shed-mapping rewrite
    val (kept, skipped) = VersionedTable.pruneInfo(spark, p,
      org.apache.spark.sql.functions.col("dt") === "d1")
    assert(skipped.nonEmpty, s"expected d2 files pruned, kept=$kept")
  }
}
