package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Validated, PIN-ANCHORED foreign keys — the warehouse `FOREIGN KEY ...
  * RELY` constraint, made exact the same way the materialized-view
  * rewrite is: a declaration is an O(table) VALIDATION (dim key unique;
  * every fact key non-null and matched) whose result is recorded with the
  * exact (fact version, dim version) it was proven at, and the optimizer
  * ([[graft.sql.GraftJoinElimination]]) trusts it ONLY while both tables
  * still sit at those versions. Any commit on either side silently
  * disarms the pin — never approximates — and re-declaring re-validates
  * and re-pins (idempotent; the daily-load pattern is load → re-declare).
  *
  * What the pin buys at 100 TB: a BI query that joins the star but reads
  * only fact columns drops the dim scan AND the join (shuffle or
  * broadcast) from the plan entirely — the classic RELY join-elimination,
  * with the integrity claim actually checked rather than taken on faith
  * (Snowflake/Oracle RELY trusts the user; a wrong claim silently changes
  * results — here a wrong claim cannot be declared).
  *
  * Validation semantics (proven at declaration, exactly what elimination
  * needs):
  *  - the dim key tuple is UNIQUE → each fact row matches at most once;
  *  - every fact key tuple is NON-NULL and PRESENT in the dim → the inner
  *    join keeps every fact row exactly once.
  * Together: `fact ⋈ dim` restricted to fact columns IS the fact. */
object ForeignKeys {

  /** One property per declared key set, on the FACT table:
    * `graft.fk.<fkCols ~-joined>` →
    * `fkCols<US>dimPath<US>pkCols<US>factPin<US>dimPin`. */
  val Prefix = "graft.fk."
  /** One property per declared UNIQUE key set, on the table itself:
    * `graft.unique.<cols ~-joined>` -> `cols<US>pin`. A unique pin alone
    * licenses LEFT-join elimination (each left row matches at most once,
    * and unmatched rows survive the left join anyway - no referential
    * check needed). */
  val UniquePrefix = "graft.unique."
  /** DIM-side roster of fact tables declaring keys INTO this table - the
    * reverse index that lets a dim's own `graft.fk.autoRepin` hook chain
    * re-validation of the facts that reference it (a fact's hook covers
    * fact loads; without this, dim motion would disarm referencing facts
    * until their next load). Registered by [[declare]] BEFORE the pin is
    * read, so the registration commit can never invalidate the pin it
    * precedes. */
  val ReferencedByKey = "graft.fk.referencedBy"
  private val Us = '\u001F'

  private[graft] def referencedByIn(props: Map[String, String]): Seq[String] =
    props.get(ReferencedByKey).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))

  case class Decl(fkCols: Seq[String], dimPath: String, pkCols: Seq[String],
      factPin: Long, dimPin: Long)

  def keyFor(fkCols: Seq[String]): String = Prefix + fkCols.mkString("~")

  private[graft] def serialize(d: Decl): String =
    Seq(d.fkCols.mkString(","), d.dimPath, d.pkCols.mkString(","),
      d.factPin.toString, d.dimPin.toString).mkString(Us.toString)

  private[graft] def parse(v: String): Option[Decl] =
    v.split(Us.toString, -1) match {
      case Array(fk, dim, pk, fv, dv) =>
        Some(Decl(fk.split(",").toSeq, dim, pk.split(",").toSeq,
          fv.toLong, dv.toLong))
      case _ => None
    }

  private[graft] def declsIn(props: Map[String, String]): Seq[Decl] =
    props.toSeq.filter(_._1.startsWith(Prefix)).sortBy(_._1)
      .flatMap(kv => parse(kv._2))

  /** Diagnostic counters: how validations were satisfied — specs pin that
    * a post-load re-declare takes the O(delta) incremental path, never a
    * silent full recompute. */
  val fullValidations = new java.util.concurrent.atomic.AtomicLong(0L)
  val incrementalValidations = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Declare (and VALIDATE) `factPath(fkCols) REFERENCES dimPath(pkCols)`.
    * Returns the fact version carrying the pin. The props commit lands
    * only if the fact is still at the validated base — a racing data
    * commit re-validates and retries, so the pin can never vouch for
    * unchecked rows.
    *
    * RE-declaring over an existing pin validates INCREMENTALLY — the
    * daily-load shape at 100 TB (load, then re-pin in O(delta)):
    *  - fact deletes cannot break integrity (fewer rows to match);
    *  - fact inserts are the only rows needing the non-null + matched
    *    check — one change-feed read joined to the dim;
    *  - dim inserts can only break KEY UNIQUENESS, checkable on exactly
    *    the inserted key values (a new duplicate needs a new row);
    *  - dim deletes whose key is not re-inserted can orphan fact rows —
    *    probed with one fact scan FILTERED to those keys (manifest
    *    stats/clustering prune it).
    * The incremental path needs both change feeds since the prior pins;
    * vacuumed history falls back to the full validation loudly-costed
    * path. */
  def declare(spark: SparkSession, factPath: String, fkCols: Seq[String],
      dimPath: String, pkCols: Seq[String]): Long = {
    require(fkCols.nonEmpty && fkCols.size == pkCols.size,
      s"$factPath: FOREIGN KEY needs matching fact/dim column lists " +
        s"(got ${fkCols.size} vs ${pkCols.size})")
    // register the fact on the DIM's reverse roster FIRST (like the MV
    // roster): the registration commit bumps the dim, so doing it before
    // the pin is read means it can never invalidate the pin it precedes —
    // and the dim's own autoRepin hook can then chain re-validation of
    // this fact when the dim itself loads
    val roster = referencedByIn(VersionedTable.propertiesOf(spark, dimPath))
    if (!roster.exists(samePath(_, factPath)))
      VersionedTable.setProperties(spark, dimPath,
        Map(ReferencedByKey -> (roster :+ factPath).mkString(",")))
    VersionedTable.recomputeOnConflict {
      val factV = VersionedTable.latestVersion(spark, factPath).getOrElse(
        throw new IllegalArgumentException(
          s"$factPath has no committed versions"))
      val dimV = VersionedTable.latestVersion(spark, dimPath).getOrElse(
        throw new IllegalArgumentException(
          s"$dimPath has no committed versions"))
      val prior = declsIn(VersionedTable.propertiesOf(spark, factPath))
        .find(d => d.fkCols == fkCols && d.pkCols == pkCols &&
          samePath(d.dimPath, dimPath))
      // still armed: nothing moved since the pin — re-declaring is a no-op
      // (a version bump would itself disarm every OTHER pin on the table)
      if (prior.exists(d => d.factPin == factV && d.dimPin == dimV)) factV
      else {
        // the incremental path needs READABLE change feeds since the prior
        // pins — vacuumed history falls back to the full validation; a
        // genuine integrity violation THROWS from either path, never falls
        // through
        prior match {
          case Some(d) if d.factPin <= factV && d.dimPin <= dimV &&
              canDiff(spark, factPath, d.factPin, factV) &&
              canDiff(spark, dimPath, d.dimPin, dimV) =>
            incrementalValidations.incrementAndGet()
            validateIncremental(spark, factPath, factV, fkCols, dimPath,
              dimV, pkCols, d)
          case _ =>
            fullValidations.incrementAndGet()
            validate(spark, factPath, factV, fkCols, dimPath, dimV, pkCols)
        }
        // the props commit this pin rides is FILE-IDENTICAL to the validated
        // base, so integrity at factV+1 is integrity at factV — and the
        // expectedBase precondition makes that identity a checked fact, not
        // an assumption
        val decl = Decl(fkCols, dimPath, pkCols, factV + 1L, dimV)
        VersionedTable.setPropertiesExpecting(spark, factPath,
          Map(keyFor(fkCols) -> serialize(decl)), expectedBase = factV)
      }
    }
  }

  private def samePath(a: String, b: String): Boolean =
    new org.apache.hadoop.fs.Path(a).toUri.getPath ==
      new org.apache.hadoop.fs.Path(b).toUri.getPath

  /** Can the change feed over (from, to] still be read (history not
    * vacuumed)? Zero-width diffs always can. */
  private def canDiff(spark: SparkSession, path: String, from: Long,
      to: Long): Boolean =
    from >= to ||
      scala.util.Try(VersionedTable.changes(spark, path, from, to)
        .schema).isSuccess

  /** O(delta) re-validation against a prior pin — throws exactly the same
    * refusals as [[validate]] when integrity broke. */
  private def validateIncremental(spark: SparkSession, factPath: String,
      factV: Long, fkCols: Seq[String], dimPath: String, dimV: Long,
      pkCols: Seq[String], prior: Decl): Unit = {
    val dim = VersionedTable.read(spark, dimPath, Some(dimV))
    if (dimV > prior.dimPin) {
      val dimDiff = VersionedTable.changes(spark, dimPath, prior.dimPin, dimV)
      // inserted keys: uniqueness can only break where a NEW row landed —
      // check the CURRENT dim restricted to those key values
      val insKeys = dimDiff.filter(col("_change_type") === "insert")
        .select(pkCols.map(col): _*).distinct()
      if (!insKeys.isEmpty) {
        val dupes = dim.join(broadcast(insKeys), pkCols, "left_semi")
          .groupBy(pkCols.map(col): _*)
          .count().filter(col("count") > 1L).limit(1).count()
        require(dupes == 0L,
          s"$factPath: REFERENCES ${dimPath}(${pkCols.mkString(",")}) is " +
            s"not unique at version $dimV — declaration refused")
      }
      // keys deleted and NOT re-inserted may have orphaned fact rows:
      // probe the fact on exactly those keys (stats/clustering prune).
      // The empty-set shortcut matters: an APPEND-ONLY dim motion (the
      // common case) must not pay any fact-side scan at all
      val gone = dimDiff.filter(col("_change_type") =!= "insert")
        .select(pkCols.map(col): _*).distinct()
        .join(dim.select(pkCols.map(col): _*), pkCols, "left_anti")
        .toDF(fkCols: _*)
      if (!gone.isEmpty) {
        val orphaned = VersionedTable.read(spark, factPath, Some(factV))
          .select(fkCols.map(col): _*)
          .join(broadcast(gone), fkCols, "left_semi").limit(1).count()
        require(orphaned == 0L,
          s"$factPath: FOREIGN KEY (${fkCols.mkString(",")}) has value(s) " +
            s"absent from ${dimPath}(${pkCols.mkString(",")}) at versions " +
            s"($factV, $dimV) — integrity does not hold, declaration refused")
      }
    }
    if (factV > prior.factPin) {
      // fact inserts are the only new rows — non-null and matched, one
      // diff-sized join; fact deletes only REMOVE rows to match
      val ins = VersionedTable.changes(spark, factPath, prior.factPin, factV)
        .filter(col("_change_type") === "insert")
        .select(fkCols.map(col): _*)
      val nulls = ins.filter(fkCols.map(col(_).isNull).reduce(_ || _))
        .limit(1).count()
      require(nulls == 0L,
        s"$factPath: FOREIGN KEY (${fkCols.mkString(",")}) has NULL " +
          s"value(s) at version $factV — join elimination needs every " +
          "fact row to match exactly once; filter or coalesce nulls first")
      val orphans = ins
        .join(dim.select(pkCols.map(col): _*).toDF(fkCols: _*),
          fkCols, "left_anti")
        .limit(1).count()
      require(orphans == 0L,
        s"$factPath: FOREIGN KEY (${fkCols.mkString(",")}) has value(s) " +
          s"absent from ${dimPath}(${pkCols.mkString(",")}) at versions " +
          s"($factV, $dimV) — integrity does not hold, declaration refused")
    }
  }

  /** Drop a declared key set (props-only commit; elimination disarms). */
  def drop(spark: SparkSession, factPath: String, fkCols: Seq[String]): Long = {
    // unregister from the dim's reverse roster when this was the LAST
    // declaration from this fact into that dim (a stale roster entry is
    // harmless — the dim hook's re-declare of a missing decl is a cheap
    // no-op — but unbounded growth isn't)
    val before = declsIn(VersionedTable.propertiesOf(spark, factPath))
    val dropped = before.find(_.fkCols == fkCols)
    val out = VersionedTable.setProperties(spark, factPath, Map.empty,
      unset = Seq(keyFor(fkCols)))
    dropped.foreach { d =>
      val remaining = before.exists(o =>
        o.fkCols != fkCols && samePath(o.dimPath, d.dimPath))
      if (!remaining) scala.util.Try {
        val roster = referencedByIn(
          VersionedTable.propertiesOf(spark, d.dimPath))
        val next = roster.filterNot(samePath(_, factPath))
        if (next != roster)
          VersionedTable.setProperties(spark, d.dimPath,
            if (next.isEmpty) Map.empty
            else Map(ReferencedByKey -> next.mkString(",")),
            unset = if (next.isEmpty) Seq(ReferencedByKey) else Nil)
      }
    }
    out
  }

  case class UniqueDecl(cols: Seq[String], pin: Long)

  def uniqueKeyFor(cols: Seq[String]): String =
    UniquePrefix + cols.mkString("~")

  private[graft] def serializeUnique(d: UniqueDecl): String =
    Seq(d.cols.mkString(","), d.pin.toString).mkString(Us.toString)

  private[graft] def parseUnique(v: String): Option[UniqueDecl] =
    v.split(Us.toString, -1) match {
      case Array(cols, pin) =>
        Some(UniqueDecl(cols.split(",").toSeq, pin.toLong))
      case _ => None
    }

  private[graft] def uniqueDeclsIn(props: Map[String, String]): Seq[UniqueDecl] =
    props.toSeq.filter(_._1.startsWith(UniquePrefix)).sortBy(_._1)
      .flatMap(kv => parseUnique(kv._2))

  /** Declare (and VALIDATE) `cols` UNIQUE on `path` — one column-pruned
    * aggregate over the table; the pin rides a file-identical props commit
    * under the same expected-base precondition as [[declare]]. RE-declaring
    * over an existing pin validates INCREMENTALLY: a new duplicate needs a
    * NEW row, so uniqueness is checked only on the key values the diff
    * inserted (a table scan semi-joined to the diff's keys — manifest
    * stats/clustering prune it). */
  def declareUnique(spark: SparkSession, path: String,
      cols: Seq[String]): Long = {
    require(cols.nonEmpty, s"$path: UNIQUE needs at least one column")
    VersionedTable.recomputeOnConflict {
      val v = VersionedTable.latestVersion(spark, path).getOrElse(
        throw new IllegalArgumentException(
          s"$path has no committed versions"))
      val df = VersionedTable.read(spark, path, Some(v))
      val miss = cols.filterNot(df.columns.contains)
      require(miss.isEmpty,
        s"$path: UNIQUE names missing column(s): ${miss.mkString(",")}")
      val prior = uniqueDeclsIn(VersionedTable.propertiesOf(spark, path))
        .find(_.cols == cols)
      // still armed: re-declaring is a no-op (and a version bump would
      // itself disarm every other pin on the table)
      if (prior.exists(_.pin == v)) v
      else {
        val keyed = prior match {
          case Some(u) if u.pin < v && canDiff(spark, path, u.pin, v) =>
            incrementalValidations.incrementAndGet()
            val insKeys = VersionedTable.changes(spark, path, u.pin, v)
              .filter(col("_change_type") === "insert")
              .select(cols.map(col): _*).distinct()
            // delete-only motion: nothing new to collide — no table scan
            if (insKeys.isEmpty) None
            else Some(df.join(broadcast(insKeys), cols, "left_semi"))
          case _ =>
            fullValidations.incrementAndGet()
            Some(df)
        }
        val dupes = keyed.map(_.groupBy(cols.map(col): _*)
          .count().filter(col("count") > 1L).limit(1).count()).getOrElse(0L)
        require(dupes == 0L,
          s"$path: (${cols.mkString(",")}) is not unique at version $v — " +
            "declaration refused")
        VersionedTable.setPropertiesExpecting(spark, path,
          Map(uniqueKeyFor(cols) ->
            serializeUnique(UniqueDecl(cols, v + 1L))), expectedBase = v)
      }
    }
  }

  def dropUnique(spark: SparkSession, path: String,
      cols: Seq[String]): Long =
    VersionedTable.setProperties(spark, path, Map.empty,
      unset = Seq(uniqueKeyFor(cols)))

  private def validate(spark: SparkSession, factPath: String, factV: Long,
      fkCols: Seq[String], dimPath: String, dimV: Long,
      pkCols: Seq[String]): Unit = {
    val fact = VersionedTable.read(spark, factPath, Some(factV))
    val dim = VersionedTable.read(spark, dimPath, Some(dimV))
    val missF = fkCols.filterNot(fact.columns.contains)
    val missD = pkCols.filterNot(dim.columns.contains)
    require(missF.isEmpty && missD.isEmpty,
      s"$factPath: FOREIGN KEY names missing column(s): " +
        s"${(missF ++ missD).mkString(",")}")
    val dupes = dim.groupBy(pkCols.map(col): _*)
      .count().filter(col("count") > 1L).limit(1).count()
    require(dupes == 0L,
      s"$factPath: REFERENCES ${dimPath}(${pkCols.mkString(",")}) is not " +
        s"unique at version $dimV — a foreign key needs a true key")
    val nulls = fact.filter(fkCols.map(col(_).isNull).reduce(_ || _))
      .limit(1).count()
    require(nulls == 0L,
      s"$factPath: FOREIGN KEY (${fkCols.mkString(",")}) has NULL value(s) " +
        s"at version $factV — join elimination needs every fact row to " +
        "match exactly once; filter or coalesce nulls first")
    // every fact key present in the dim: one shuffled anti-join, the only
    // O(fact)+O(dim) step — the price of a checked RELY
    val orphans = fact.select(fkCols.map(col): _*)
      .join(dim.select(pkCols.map(col): _*)
          .toDF(fkCols: _*), fkCols, "left_anti")
      .limit(1).count()
    require(orphans == 0L,
      s"$factPath: FOREIGN KEY (${fkCols.mkString(",")}) has value(s) " +
        s"absent from ${dimPath}(${pkCols.mkString(",")}) at versions " +
        s"($factV, $dimV) — integrity does not hold, declaration refused")
  }
}
