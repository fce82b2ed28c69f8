package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Dictionary-complete equality pruning: an un-saturated per-file KMV
  * sketch is the file's complete distinct-hash set, so `c = v` skips files
  * that provably never saw v — exactly where overlapping min/max ranges
  * cannot prune. */
class DictionarySkipSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("dict").toString

  test("categorical equality prunes via complete sketches; saturation and casts decline") {
    val path = tmp() + "/t"
    // two files with OVERLAPPING string ranges but disjoint value sets:
    // min/max pruning is blind here, the dictionary is not
    val f1 = Seq(("apple", 1L), ("cherry", 2L), ("apple", 3L)).toDF("s", "v")
      .coalesce(1)
    val f2 = Seq(("banana", 4L), ("date", 5L)).toDF("s", "v").coalesce(1)
    VersionedTable.write(f1, path, statsCols = Seq("s"))
    VersionedTable.append(f2, path, statsCols = Seq("s"))
    def prune(value: String) =
      VersionedTable.pruneInfo(spark, path, col("s") === value)
    // min/max alone: 'banana' sits inside f1's [apple, cherry]... it does
    // not — but 'blueberry' does; before ANALYZE nothing prunes it
    assert(prune("blueberry")._2.isEmpty,
      "no sketch yet: range-overlapped equality must keep all files")
    VersionedTable.analyzeNdv(spark, path, Seq("s"))
    // after ANALYZE: the complete per-file sets prove absence
    val (kept, skipped) = prune("blueberry")
    assert(kept.isEmpty && skipped.size == 2,
      s"absent-everywhere value must skip every file: $kept / $skipped")
    val (k2, s2) = prune("banana")
    assert(k2.size == 1 && s2.size == 1,
      s"'banana' lives only in the second file: $k2 / $s2")
    assert(VersionedTable.readWhere(spark, path, col("s") === "banana")
      .count() == 1L)
    assert(VersionedTable.readWhere(spark, path, col("s") === "apple")
      .count() == 2L)
    // IN-lists compose (forall over the list's equalities)
    val (k3, s3) = VersionedTable.pruneInfo(spark, path,
      col("s").isin("blueberry", "elderberry"))
    assert(k3.isEmpty && s3.size == 2)
    // type-mismatched comparison (cast around the column) must not use the
    // dictionary — and stays correct
    assert(VersionedTable.readWhere(spark, path,
      col("v").cast("string") === "4").count() == 1L)
    // a saturated sketch (>= k distinct values) never dict-prunes
    val big = tmp() + "/big"
    VersionedTable.write(
      spark.range(0, 4096).select(concat(lit("u"), col("id")).as("s"))
        .coalesce(1), big, statsCols = Seq("s"))
    VersionedTable.analyzeNdv(spark, big, Seq("s"))
    // value inside the range, absent from the (saturated) sketch: kept
    val (kb, sb) = VersionedTable.pruneInfo(spark, big, col("s") === "u1x")
    assert(sb.isEmpty, s"saturated sketches must never prune: $kb / $sb")
    // deletes after the analyze only SHRINK the live set — the stale
    // sketch stays a sound superset and keeps pruning correctly
    VersionedTable.delete(spark, path, col("s") === "date",
      purgeFraction = 1.0)
    assert(VersionedTable.readWhere(spark, path, col("s") === "date")
      .count() == 0L)
    assert(VersionedTable.readWhere(spark, path, col("s") === "banana")
      .count() == 1L)
  }

  test("binary columns hash by CONTENT: present bytes keep their file") {
    // Array[Byte].toString is instance identity — without the canonical
    // Base64 recipe a file holding the probed bytes would be WRONGLY
    // pruned (its stored hash would never match any probe)
    val path = tmp() + "/b"
    val f1 = Seq((Array[Byte](1, 2), 1L), (Array[Byte](3, 4), 2L))
      .toDF("b", "v").coalesce(1)
    val f2 = Seq((Array[Byte](5, 6), 3L)).toDF("b", "v").coalesce(1)
    VersionedTable.write(f1, path)
    VersionedTable.append(f2, path)
    VersionedTable.analyzeNdv(spark, path, Seq("b"))
    val present = col("b") === lit(Array[Byte](1, 2))
    val (k1, s1) = VersionedTable.pruneInfo(spark, path, present)
    assert(k1.size == 1 && s1.size == 1,
      s"bytes (1,2) live only in the first file: $k1 / $s1")
    assert(VersionedTable.readWhere(spark, path, present).count() == 1L)
    val (k2, s2) = VersionedTable.pruneInfo(spark, path,
      col("b") === lit(Array[Byte](9, 9)))
    assert(k2.isEmpty && s2.size == 2, "absent bytes must skip every file")
  }

  test("legacy (pre-Base64) binary sketches never dict-prune; recipe survives JSON") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
    import org.apache.spark.sql.types.{BinaryType, StringType}
    val bytes = Array[Byte](9, 9)
    val b = AttributeReference("b", BinaryType, nullable = true)()
    val pred = EqualTo(b, Literal(bytes, BinaryType))
    // an un-saturated sketch that does NOT contain md5(base64(bytes)) —
    // exactly what an identity-hashing pre-change ANALYZE persisted
    val legacy = Map("b" -> DataSkipping.ColStat(None, None, 0L,
      allNulls = false, ndv = Some(Seq("00" * 16)))) // ndvRecipe default 1
    assert(!DataSkipping.canSkip(pred, legacy),
      "a legacy binary sketch is not content-reproducible — must keep")
    val current = Map("b" -> legacy("b").copy(
      ndvRecipe = DataSkipping.NdvRecipeCurrent))
    assert(DataSkipping.canSkip(pred, current),
      "same sketch at the current recipe proves absence — must skip")
    // STRING probes stay recipe-agnostic (their canonical never changed)
    val s = AttributeReference("s", StringType, nullable = true)()
    val sPred = EqualTo(s, Literal.create("zzz", StringType))
    val sLegacy = Map("s" -> DataSkipping.ColStat(None, None, 0L,
      allNulls = false, ndv = Some(Seq("00" * 16))))
    assert(DataSkipping.canSkip(sPred, sLegacy))
    // the marker round-trips the manifest JSON (absent ⇒ legacy 1)
    val rt = DataSkipping.colsFromJson(DataSkipping.colsToJson(current))
    assert(rt("b").ndvRecipe == DataSkipping.NdvRecipeCurrent,
      "ndv_v must survive colsToJson/colsFromJson")
    val rtLegacy = DataSkipping.colsFromJson(DataSkipping.colsToJson(legacy))
    assert(rtLegacy("b").ndvRecipe == 1,
      "no marker in the JSON must parse as the legacy recipe")
  }
}
