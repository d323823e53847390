package graft.ingest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types.{NumericType, StructType}

import graft.ingest.ManifestCommit.{ColStats, Manifest}

/** The one data-skipping evaluator: maps a Catalyst predicate onto the
  * manifest's per-dir stats language and turns it into candidate dirs.
  * [[extract]] pulls single-column range BOUNDS (min/max skipping),
  * equality POINTS (bloom probes and bucket pinning), OR groups and
  * nullness conjuncts out of the predicate; [[statsCandidates]] and
  * [[candidates]] evaluate that against a pinned manifest, and
  * [[coveredBy]] proves whole dirs fully matched. Its four callers prune
  * identically because they share every step after extraction:
  *  - the SQL data-skipping rule (`GraftDataSkipping.keptDirs` and its
  *    metadata fold);
  *  - predicate DML (`MergeInto.rowOp`: DELETE / UPDATE / REPLACE
  *    WHERE, and its whole-dir fast path);
  *  - merge-on-read UPDATE (`MergeInto.updateMorOnce`);
  *  - OPTIMIZE / ZORDER WHERE scope (`Optimize.whereScope`, stats only).
  * Extraction stays at each caller because the inputs differ (a
  * resolved SQL condition, a bridged DSL Column, OPTIMIZE's resolved
  * and constant-folded form).
  *
  * Conservative by construction: conjuncts that don't fit the
  * single-column-vs-literal shape contribute nothing (candidates stay),
  * and callers ALWAYS apply the real predicate to what they read —
  * extraction can only skip, never filter. */
object StatsPredicate {

  /** Probing bloom side files is one filesystem round-trip per live dir;
    * past this many candidate dirs the probe costs more driver latency
    * than the scan it might save, and min/max pruning has had its say. */
  val BloomProbeMaxDirs = 1024

  private def typeOf(schema: StructType)(c: String) =
    schema.fields.find(_.name.equalsIgnoreCase(c)).map(_.dataType)

  /** Dirs of `m` whose recorded stats can hold a row satisfying `ex`:
    * the closed bounds plus the bounds point predicates pin on bucket
    * slice components, the OR groups, and `ex.disjoint` (strict bounds,
    * or-group and nullness-counter disproofs). `schema` types the
    * columns for bucket pinning. No I/O beyond the manifest. */
  def statsCandidates(m: Manifest, ex: Extracted,
      schema: StructType): Seq[String] =
    ManifestCommit.prunedDirsOf(m,
      ex.bounds ++ ManifestCommit.bucketBoundsOf(m.slice, ex.points,
        typeOf(schema)),
      ex.orGroups, ex.disjoint)

  /** [[statsCandidates]], then bloom probes while 1 to
    * [[BloomProbeMaxDirs]] dirs remain: one per equality point, then one
    * DISJUNCTIVE probe per IN-list (a dir is kept iff its bloom might
    * contain ANY listed value — the envelope spans the whole list and
    * prunes nothing on modulo/hash layouts). Probes are TYPE-SENSITIVE:
    * every value must coerce LOSSLESSLY to the column's own type
    * (`ManifestCommit.coerceExact`) or the probe is skipped — the DSL
    * path carries caller-typed literals, and a String "1" against a long
    * column's bloom reads false and would wrongly prune the owning dir. */
  def candidates(spark: SparkSession, root: String, m: Manifest,
      ex: Extracted, schema: StructType): Seq[String] = {
    var kept = statsCandidates(m, ex, schema)
    (ex.points.map { case (c, v) => (c, Seq(v)) } ++ ex.anyPoints).foreach {
      case (c, vs) =>
        if (kept.nonEmpty && kept.size <= BloomProbeMaxDirs)
          typeOf(schema)(c).foreach { dt =>
            val cvs = vs.flatMap(ManifestCommit.coerceExact(_, dt))
            if (cvs.size == vs.size)
              kept = ManifestCommit.bloomDirsOf(spark, root, m, c, cvs, kept)
          }
    }
    kept
  }

  /** The whole-dir COVER proof: a dir is covered when stats prove every
    * row in it satisfies `cond` —
    *  (a) it records a row count ([[ManifestCommit.RowCountStat]]);
    *  (b) every column `cond` references (resolved or single-part
    *      unresolved attributes, matched case-insensitively against
    *      `names`) is proven null-free there (`__nn_c == __rows`) —
    *      min/max speak only for non-null values, and a row where `cond`
    *      evaluates NULL matches nothing;
    *  (c) `extract(NOT cond)` is DISJOINT from its stats: no row can
    *      satisfy the negation ([[minusNotNull]] is sound under (b)).
    * File-level counters include DV-dead rows, and "every file row
    * matches" implies every LIVE row does. Shared by the SQL metadata
    * fold and predicate DML's whole-dir DELETE / REPLACE WHERE. */
  def coveredBy(m: Manifest, cond: Expression,
      names: Set[String]): String => Boolean = {
    val refCols = cond.collect {
      case a: AttributeReference => a.name
      case u: UnresolvedAttribute if u.nameParts.length == 1 => u.name
    }.flatMap(n => names.find(_.equalsIgnoreCase(n))).toSet
    lazy val exNot = extract(Not(minusNotNull(cond))).restrict(names)
    d => {
      val rows = ManifestCommit.statLong(m, d, ManifestCommit.RowCountStat)
      refCols.nonEmpty && rows.isDefined &&
        exNot.disjoint(m.stats.getOrElse(d, Nil)) &&
        refCols.forall(c =>
          ManifestCommit.statLong(m, d, ManifestCommit.nnStat(c)) == rows)
    }
  }

  type Bound = (String, Option[String], Option[String])

  /** A bound that remembers STRICTNESS (`x > 5` vs `x >= 5`). The
    * pruning language stays closed-interval (conservative — a strict
    * bound rendered closed keeps at most one extra dir), but the
    * DISJOINTNESS proof needs exactness: the whole-dir DML fast path
    * must prove `NOT(pred)` impossible on a dir, and the negation of
    * the ubiquitous half-open partition range (`ts >= A AND ts < B`)
    * is `ts < A OR ts >= B` — against a dir whose min IS exactly A, a
    * closed `ts <= A` cannot disprove the first branch and the
    * fast path would never fire on the very shape it exists for. */
  final case class XBound(col: String, lo: Option[String],
      hi: Option[String], loStrict: Boolean = false,
      hiStrict: Boolean = false) {
    def closed: Bound = (col, lo, hi)
  }

  /** `orGroups` (round 18 — TRUE disjunctive skipping, beyond the
    * envelope): one entry per OR conjunct, holding the branches' own
    * conjunctive bound sets. A dir passes a group iff SOME branch's
    * bounds ALL overlap its stats — `x < 5 OR x > 20`, whose envelope
    * is (-∞, +∞) and proves nothing, keeps exactly the dirs touching
    * either range. Groups are only recorded when EVERY branch yielded
    * at least one bound (a bound-less branch admits everything, making
    * the group vacuous). Sound: each branch's recorded bounds are
    * implied by that branch, so a row satisfying the OR satisfies some
    * branch and lands in a dir that branch admits. */
  /** `anyPoints` (round 18): one entry per IN conjunct (including
    * `x = a OR x = b`, normalized to IN) — the column and its candidate
    * values, for DISJUNCTIVE bloom probing: a dir is kept iff its bloom
    * might contain ANY of the values. The conjunctive `points` channel
    * cannot carry these (each of its entries must hold for every
    * matching row); the min/max envelope spans the whole list and
    * prunes nothing on modulo/hash layouts, while per-value blooms nail
    * the owning dirs. Capped at extraction so probe cost stays bounded. */
  /** `isNull`/`isNotNull` (round 18): columns a conjunct requires to BE
    * null / NOT be null. min/max stats never speak for nulls, so these
    * prune only through the per-column NON-NULL counters
    * ([[ManifestCommit.NullCountPrefix]]): `c IS NULL` disproves a dir
    * whose non-null count equals its row count (no nulls there);
    * `c IS NOT NULL` disproves an all-null dir (counter = 0). Dirs
    * without the counters are kept, the usual conservative default. */
  final case class Extracted(
      bounds: Seq[Bound],
      points: Seq[(String, Any)],
      orGroups: Seq[Seq[Seq[Bound]]] = Nil,
      anyPoints: Seq[(String, Seq[Any])] = Nil,
      isNull: Seq[String] = Nil,
      isNotNull: Seq[String] = Nil,
      xBounds: Seq[XBound] = Nil,
      xOrGroups: Seq[Seq[Seq[XBound]]] = Nil) {

    /** Strict-aware views for the disjointness proof: hand-constructed
      * instances (tests, tooling) carry only the closed tuples — widen
      * those to non-strict XBounds so disjoint() still works. */
    private def xb: Seq[XBound] =
      if (xBounds.nonEmpty || bounds.isEmpty) xBounds
      else bounds.map(t => XBound(t._1, t._2, t._3))
    private def xog: Seq[Seq[Seq[XBound]]] =
      if (xOrGroups.nonEmpty || orGroups.isEmpty) xOrGroups
      else orGroups.map(_.map(_.map(t => XBound(t._1, t._2, t._3))))

    /** Nullness disproof against a dir's full stat list — true when the
      * counters PROVE no row can satisfy the nullness conjuncts. */
    def nullsDisprove(stats: Seq[ColStats]): Boolean = {
      def statN(c: String): Option[Long] = ManifestCommit.statLong(stats, c)
      lazy val rows = statN(ManifestCommit.RowCountStat)
      isNull.exists(c => (for {
        r <- rows; nn <- statN(ManifestCommit.nnStat(c))
      } yield nn == r).getOrElse(false)) ||
        isNotNull.exists(c => statN(ManifestCommit.nnStat(c)).contains(0L))
    }
    /** A dir with these stats provably holds NO row satisfying the
      * predicate — the disjointness proof rebasing commits need for
      * concurrently-added dirs. Empty bounds prove nothing. An OR group
      * disproves the dir when EVERY branch has a non-overlapping bound. */
    def disjoint(stats: Seq[ColStats]): Boolean = {
      // strict-aware unsatisfiability of one bound within a dir's
      // [min, max]: `x > lo` needs max > lo, `x >= lo` needs max >= lo
      // (dually for hi) — the closed approximation loses exactly the
      // touching-boundary case the partition fast path depends on
      def off(b: XBound): Boolean =
        stats.find(_.col == b.col).exists { cs =>
          def le(a: String, bb: String): Boolean =
            if (cs.kind == "num")
              new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(bb)) <= 0
            else a <= bb
          def lt(a: String, bb: String): Boolean =
            if (cs.kind == "num")
              new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(bb)) < 0
            else a < bb
          b.lo.exists(lo =>
            if (b.loStrict) le(cs.max, lo) else lt(cs.max, lo)) ||
            b.hi.exists(hi =>
              if (b.hiStrict) le(hi, cs.min) else lt(hi, cs.min))
        }
      xb.exists(off) ||
        xog.exists(g => g.forall(br => br.exists(off))) ||
        nullsDisprove(stats)
    }
    /** Drop anything referencing a column outside `names` (unknown to
      * the caller's schema). A branch losing SOME bounds just weakens
      * (sound); a branch losing ALL bounds admits everything, so its
      * whole group drops. */
    def restrict(names: Set[String]): Extracted =
      Extracted(bounds.filter(b => names(b._1)),
        points.filter(p => names(p._1)),
        orGroups.map(_.map(_.filter(b => names(b._1))))
          .filter(_.forall(_.nonEmpty)),
        anyPoints.filter(p => names(p._1)),
        isNull.filter(names),
        isNotNull.filter(names),
        xBounds.filter(b => names(b.col)),
        xOrGroups.map(_.map(_.filter(b => names(b.col))))
          .filter(_.forall(_.nonEmpty)))
  }

  /** Column name of a plain attribute reference (resolved or not);
    * None for anything computed — a cast or arithmetic wrapper means
    * the recorded stats don't describe the compared value. */
  private def colOf(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name)
    case u: UnresolvedAttribute if u.nameParts.length == 1 => Some(u.name)
    case _ => None
  }

  private def toScala(l: Literal): Any =
    CatalystTypeConverters.convertToScala(l.value, l.dataType)

  private def render(l: Literal): Option[String] =
    if (l.value == null) None
    else Some(ManifestCommit.renderBound(toScala(l)))

  /** Push NOT down to the leaves before extraction (round 18): the
    * analyzer does not run BooleanSimplification on the shapes we
    * receive, so `NOT (x > 5)` arrived as an opaque conjunct and
    * contributed nothing. De Morgan over And/Or, comparison flips at
    * the leaves; a NOT that reaches anything else (NOT(x = 5), NOT
    * over null-sensitive shapes) stays wrapped — the leaf grammar
    * ignores it, conservative as ever. Comparison flips are null-safe:
    * both `x > 5` and `x <= 5` are false for null x, so the flipped
    * bound admits exactly the same non-null rows and nulls never
    * satisfied either side. */
  private def pushNot(e: Expression): Expression = e match {
    case Not(x) => pushNeg(x)
    case And(a, b) => And(pushNot(a), pushNot(b))
    case Or(a, b) => Or(pushNot(a), pushNot(b))
    case other => other
  }
  /** The negation of `e`, with NOT pushed to the leaves. */
  private def pushNeg(e: Expression): Expression = e match {
    case Not(x) => pushNot(x)
    case And(a, b) => Or(pushNeg(a), pushNeg(b))
    case Or(a, b) => And(pushNeg(a), pushNeg(b))
    case GreaterThan(a, b) => LessThanOrEqual(a, b)
    case GreaterThanOrEqual(a, b) => LessThan(a, b)
    case LessThan(a, b) => GreaterThanOrEqual(a, b)
    case LessThanOrEqual(a, b) => GreaterThan(a, b)
    // nullness tests are two-valued: these flips are exact
    case IsNull(a) => IsNotNull(a)
    case IsNotNull(a) => IsNull(a)
    // equality flips to the two-sided STRICT disjunction — exact on
    // both sides (x ≠ v ⟺ x < v OR x > v for non-null x; both render
    // NULL when x is null). Arms NOT-equality / NOT-IN skipping and,
    // critically, the covered-dir disproof for IDENTITY-sliced
    // predicates (r19: `count(*) WHERE status = 'F'` must disprove
    // NOT(status = 'F') on a dir whose stats pin min == max == 'F').
    // EqualNullSafe stays wrapped: NOT(x <=> v) is TRUE for null x,
    // while the disjunction renders NULL — not exact.
    case EqualTo(a, l: Literal) => Or(LessThan(a, l), GreaterThan(a, l))
    case EqualTo(l: Literal, a) => Or(LessThan(l, a), GreaterThan(l, a))
    case In(a, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
      vs.map(v => Or(LessThan(a, v), GreaterThan(a, v)): Expression)
        .reduce(And(_, _))
    case other => Not(other)
  }

  /** `x = a OR x = b [OR …]` normalizes to `x IN (a, b, …)` so the one
    * IN path serves the envelope bound AND the per-value bloom probes
    * (transformDown: the OUTERMOST or-tree flattens all its equality
    * leaves at once — bottom-up would fold inner pairs into In nodes
    * the outer pass no longer recognizes). */
  private def orToIn(e: Expression): Expression = e.transformDown {
    case o: Or =>
      def leaves(x: Expression): Seq[Expression] = x match {
        case Or(a, b) => leaves(a) ++ leaves(b)
        case l => Seq(l)
      }
      val parts = leaves(o).map {
        case EqualTo(a, l: Literal) if colOf(a).isDefined => Some((colOf(a).get, a, l))
        case EqualTo(l: Literal, a) if colOf(a).isDefined => Some((colOf(a).get, a, l))
        case _ => None
      }
      if (parts.forall(_.isDefined) &&
          parts.flatten.map(_._1).distinct.size == 1)
        In(parts.head.get._2, parts.map(_.get._3))
      else o
  }

  /** Programmatic Columns arrive as `UnresolvedFunction('and'/'>='/…)`
    * in Spark 4 (the Column DSL builds a ColumnNode AST whose bridge
    * renders operators as unresolved FUNCTION CALLS, not the catalyst
    * comparison nodes the analyzer later resolves them to) — without
    * this normalization, `deleteRows(root, col("id") <= 5)` extracted
    * NOTHING: every stats-overlapping dir was read by the witness and
    * the rebase disjointness proof never armed. Rewrite the known
    * boolean/comparison names to their catalyst nodes; anything else
    * stays a function call and contributes nothing, conservative as
    * ever. */
  /** True when `name` resolves to a USER-registered function in the
    * active session (spark.udf.register / CREATE TEMPORARY FUNCTION
    * introducing the name or shadowing a builtin): the DSL-operator
    * rewrite below must not re-interpret a call the analyzer would
    * dispatch to user code — mis-extraction could prune dirs whose
    * rows the real predicate matches (ADVICE r18). Builtin names in a
    * session registry resolve to the SAME builder instance the builtin
    * registry holds (the session registry is a clone of it), so
    * reference inequality flags a shadowing override. */
  private def userOverridden(name: String): Boolean =
    org.apache.spark.sql.SparkSession.getActiveSession.exists { sp =>
      val fid = org.apache.spark.sql.catalyst.FunctionIdentifier(name)
      sp.sessionState.functionRegistry.lookupFunctionBuilder(fid) match {
        case None => false
        case Some(b) =>
          org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin
            .lookupFunctionBuilder(fid) match {
            case None => true // not a builtin name → user function
            case Some(bb) => !b.eq(bb)
          }
      }
    }

  private def fnsToCatalyst(e: Expression): Expression = e.transformUp {
    case f: UnresolvedFunction
        if f.nameParts.length == 1 && !f.isDistinct && f.filter.isEmpty &&
          !userOverridden(f.nameParts.head.toLowerCase(java.util.Locale.ROOT)) =>
      (f.nameParts.head.toLowerCase(java.util.Locale.ROOT),
        f.arguments) match {
        case ("and", Seq(a, b)) => And(a, b)
        case ("or", Seq(a, b)) => Or(a, b)
        case ("not" | "!", Seq(a)) => Not(a)
        case ("=" | "==", Seq(a, b)) => EqualTo(a, b)
        case ("<=>", Seq(a, b)) => EqualNullSafe(a, b)
        case (">", Seq(a, b)) => GreaterThan(a, b)
        case (">=", Seq(a, b)) => GreaterThanOrEqual(a, b)
        case ("<", Seq(a, b)) => LessThan(a, b)
        case ("<=", Seq(a, b)) => LessThanOrEqual(a, b)
        case ("in", a +: rest) if rest.nonEmpty => In(a, rest)
        case ("between", Seq(a, l, u)) =>
          And(GreaterThanOrEqual(a, l), LessThanOrEqual(a, u))
        case ("isnull", Seq(a)) => IsNull(a)
        case ("isnotnull", Seq(a)) => IsNotNull(a)
        case _ => f
      }
  }

  /** Cast normalization for ANALYZED conditions (round 18 — the SQL DML
    * route captures the analyzer's output, where comparing an ntz
    * column with a TIMESTAMP literal arrives as
    * `cast(col AS ltz) >= lit` or `col >= cast(lit AS ntz)`; the read
    * path never sees these because the optimizer's constant folding and
    * cast unwrapping already ran, but DML conditions skip the
    * optimizer and used to extract NOTHING — every dir a witness
    * candidate, no whole-dir proof):
    *  - a foldable cast over a literal evaluates to its value;
    *  - a cast over the COLUMN side unwraps by back-casting the
    *    literal, ONLY for injective order-embeddings (integral
    *    widening, float→double, date→timestamp[_ntz], ntz↔ltz under a
    *    fixed-offset zone; cast-to-date FLOORS a timestamp, monotone
    *    yet not injective, and must stay wrapped) and only when the
    *    literal round-trips exactly; an identity cast always unwraps;
    *  - `cast(col) IN (lits)` unwraps the same way when every listed
    *    literal does (the analyzer casts `k IN (5, 7)` on a bigint `k`
    *    to `cast(k AS bigint) IN (…)`). OPTIMIZE WHERE's resolved scope
    *    predicate reaches these same rules through [[extract]] (an
    *    analyzed Cast carries the session zone as `timeZoneId`). */
  private def injectiveCastPair(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType, tz: Option[String]): Boolean = {
    import org.apache.spark.sql.types._
    val intOrder = Seq[DataType](ByteType, ShortType, IntegerType, LongType)
    lazy val fixedOffsetZone = tz.exists(z => scala.util.Try(
      java.time.ZoneId.of(z).getRules.isFixedOffset).getOrElse(false))
    (from, to) match {
      case (DateType, TimestampType) | (DateType, TimestampNTZType) => true
      case (TimestampNTZType, TimestampType) |
           (TimestampType, TimestampNTZType) => fixedOffsetZone
      case (FloatType, DoubleType) => true
      case _ =>
        intOrder.indexOf(from) >= 0 && intOrder.indexOf(to) >= 0 &&
          intOrder.indexOf(from) < intOrder.indexOf(to)
    }
  }

  /** Public face of the cast normalization, for callers that must run
    * it while the condition is still RESOLVED (the SQL DML commands
    * re-key attributes by name for execution, which loses the child
    * type the injectivity check needs). */
  private[graft] def normalizeAnalyzedCasts(e: Expression): Expression =
    normalizeCasts(e)

  private def normalizeCasts(e: Expression): Expression = {
    def backLit(c: Cast, l: Literal): Option[Literal] = {
      // an unresolved child has no dataType — no unwrap (conservative)
      val t1 = scala.util.Try(c.child.dataType).getOrElse(return None)
      if (l.value == null) return None
      // an identity cast (the IN coercion casts every side to the common
      // type, the column included) changes no value
      if (t1 == c.dataType && l.dataType == t1) return Some(l)
      if (!injectiveCastPair(t1, c.dataType, c.timeZoneId)) return None
      val back = scala.util.Try(
        Cast(l, t1, c.timeZoneId, EvalMode.TRY).eval(null)).getOrElse(null)
      if (back == null) return None
      val fwd = scala.util.Try(Cast(Literal.create(back, t1), l.dataType,
        c.timeZoneId, EvalMode.TRY).eval(null)).getOrElse(null)
      if (fwd != l.value) return None // not round-trip exact
      Some(Literal.create(back, t1))
    }
    e.transformUp {
      case c: Cast if c.child.isInstanceOf[Literal] && c.foldable =>
        scala.util.Try(Literal.create(c.eval(null), c.dataType)).getOrElse(c)
      case cmp: BinaryComparison => (cmp.left, cmp.right) match {
        case (c: Cast, l: Literal) if colOf(c.child).isDefined =>
          backLit(c, l).map(l2 =>
            cmp.withNewChildren(Seq(c.child, l2))).getOrElse(cmp)
        case (l: Literal, c: Cast) if colOf(c.child).isDefined =>
          backLit(c, l).map(l2 =>
            cmp.withNewChildren(Seq(l2, c.child))).getOrElse(cmp)
        case _ => cmp
      }
      case in @ In(c: Cast, vs) if colOf(c.child).isDefined && vs.nonEmpty &&
          vs.forall(_.isInstanceOf[Literal]) =>
        val back = vs.map(v => backLit(c, v.asInstanceOf[Literal]))
        if (back.forall(_.isDefined)) In(c.child, back.flatten) else in
    }
  }

  /** `cond` with bare-column `IS NOT NULL` conjuncts removed — for the
    * COVERED-DIR disproof only, which is sound because that proof's
    * no-nulls witness (`__nn_c == __rows` for every referenced column)
    * already proves them true on every row of the dir. Why it exists:
    * the analyzer's InferFiltersFromConstraints prefixes every pushed
    * filter with `isnotnull(c)`, whose negation contributes an
    * `IS NULL` OR-branch the or-group disproof cannot constrain — so
    * `extract(NOT pred)` never disproved ANY analyzer-shaped predicate
    * and the q177/q179 whole-dir proofs silently never fired (r19).
    * Callers must pair this with the per-column witness; it is NOT a
    * general equivalence. */
  def minusNotNull(cond: Expression): Expression = {
    def split(e: Expression): Seq[Expression] = e match {
      case And(a, b) => split(a) ++ split(b)
      case x => Seq(x)
    }
    val kept = split(fnsToCatalyst(cond)).filterNot {
      case IsNotNull(a) => colOf(a).isDefined
      case _ => false
    }
    if (kept.isEmpty) Literal.TrueLiteral
    else kept.reduce(And(_, _))
  }

  def extract(cond0: Expression): Extracted = {
    val cond = orToIn(normalizeCasts(pushNot(fnsToCatalyst(cond0))))
    val xBounds = scala.collection.mutable.ArrayBuffer.empty[XBound]
    val points = scala.collection.mutable.ArrayBuffer.empty[(String, Any)]
    val xOrGroups = scala.collection.mutable.ArrayBuffer.empty[Seq[Seq[XBound]]]
    val anyPoints = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[Any])]
    val isNull = scala.collection.mutable.ArrayBuffer.empty[String]
    val isNotNull = scala.collection.mutable.ArrayBuffer.empty[String]

    def lo(c: Option[String], l: Literal, strict: Boolean): Unit =
      c.foreach(cc => render(l).foreach(v =>
        xBounds += XBound(cc, Some(v), None, loStrict = strict)))
    def hi(c: Option[String], l: Literal, strict: Boolean): Unit =
      c.foreach(cc => render(l).foreach(v =>
        xBounds += XBound(cc, None, Some(v), hiStrict = strict)))
    def eq(c: Option[String], l: Literal): Unit = c.foreach { cc =>
      render(l).foreach(v => xBounds += XBound(cc, Some(v), Some(v)))
      toScala(l) match {
        case v @ (_: Long | _: Int | _: Short | _: Byte | _: String) =>
          points += ((cc, v))
        case _ => ()
      }
    }

    def split(e: Expression): Seq[Expression] = e match {
      case And(a, b) => split(a) ++ split(b)
      case other => Seq(other)
    }

    split(cond).foreach {
      case EqualTo(a, l: Literal) => eq(colOf(a), l)
      case EqualTo(l: Literal, a) => eq(colOf(a), l)
      case EqualNullSafe(a, l: Literal) if l.value != null => eq(colOf(a), l)
      case EqualNullSafe(l: Literal, a) if l.value != null => eq(colOf(a), l)
      case GreaterThanOrEqual(a, l: Literal) => lo(colOf(a), l, strict = false)
      case GreaterThan(a, l: Literal) => lo(colOf(a), l, strict = true)
      case LessThanOrEqual(a, l: Literal) => hi(colOf(a), l, strict = false)
      case LessThan(a, l: Literal) => hi(colOf(a), l, strict = true)
      case GreaterThanOrEqual(l: Literal, a) => hi(colOf(a), l, strict = false)
      case GreaterThan(l: Literal, a) => hi(colOf(a), l, strict = true)
      case LessThanOrEqual(l: Literal, a) => lo(colOf(a), l, strict = false)
      case LessThan(l: Literal, a) => lo(colOf(a), l, strict = true)
      case In(a, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        colOf(a).foreach { cc =>
          val lits = vs.map(_.asInstanceOf[Literal])
          val rendered = lits.map(render)
          // uniform numeric-ness required: a mixed-type list (reachable
          // via the OR-of-equalities normalization) has no single STATS
          // ordering to envelope under — skip the bound, stay safe
          val numerics = lits.map(_.dataType.isInstanceOf[NumericType])
          if (rendered.forall(_.isDefined) && numerics.distinct.size == 1) {
            // bound the IN-list by its min/max in the STATS ordering
            // (numeric compare for numeric literals, else string)
            val rs = rendered.flatten
            val ordered =
              if (numerics.head) rs.sortBy(new java.math.BigDecimal(_))
              else rs.sorted
            xBounds += XBound(cc, Some(ordered.head), Some(ordered.last))
            // per-value OR-GROUP for stats resolution (r19): the
            // envelope keeps every dir BETWEEN the values (`IN (1, 3)`
            // kept a min==max==2 dir) — a branch per value makes the
            // stats channel disjunctive like the bloom probe, and arms
            // the q179 covered/disjoint dir classification on IN
            // predicates. Same cap as the bloom list (probe cost is
            // values × dirs).
            if (rs.size <= 16)
              xOrGroups += rs.map(v => Seq(XBound(cc, Some(v), Some(v))))
          }
          // per-value DISJUNCTIVE bloom probe (bounded: probe cost is
          // values × dirs); bloom-eligible types only, same set the
          // single-point channel admits
          if (lits.size <= 16) {
            val scl = lits.map(toScala).collect {
              case v @ (_: Long | _: Int | _: Short | _: Byte | _: String) => v
            }
            if (scl.size == lits.size) anyPoints += ((cc, scl))
          }
        }
      case IsNull(a) => colOf(a).foreach(isNull += _)
      case IsNotNull(a) => colOf(a).foreach(isNotNull += _)
      case o: Or =>
        val (env, branches) = orExtract(o)
        xBounds ++= env.map(t => XBound(t._1, t._2, t._3))
        if (branches.nonEmpty) xOrGroups += branches
      case _ => ()
    }
    Extracted(xBounds.toSeq.map(_.closed), points.toSeq,
      xOrGroups.toSeq.map(_.map(_.map(_.closed))), anyPoints.toSeq,
      isNull.toSeq, isNotNull.toSeq,
      xBounds.toSeq, xOrGroups.toSeq)
  }

  /** Disjunction ENVELOPE bounds (round 18 — `month = 1 OR month = 3`
    * used to contribute nothing and scan every dir): for `a OR b [OR …]`,
    * a column constrained in EVERY branch admits the union envelope of
    * the branches' intervals — sound, because any row satisfying the OR
    * satisfies some branch, whose interval lies inside the envelope.
    * Branches may themselves be conjunctions (intersected per column);
    * a branch leaf that doesn't fit the column-vs-literal grammar simply
    * doesn't constrain its branch (supersets stay sound), and a column
    * missing from ANY branch is dropped — `x = 1 OR x IS NULL` yields no
    * x bound, exactly right since min/max never describe nulls.
    *
    * ORDERING MUST MATCH [[ColStats.overlaps]]: numeric literals compare
    * as BigDecimal, everything else LEXICALLY on the canonical rendering
    * — computing a string column's envelope numerically would build an
    * interval that excludes a branch value under the stats ordering and
    * prune a matching dir. A column whose leaves disagree on numeric-ness
    * is dropped. Equality points never survive a disjunction (a bloom /
    * bucket probe needs ONE value). */
  private def orExtract(o: Or): (Seq[Bound], Seq[Seq[XBound]]) = {
    final case class Iv(lo: Option[String], hi: Option[String], num: Boolean,
      loS: Boolean = false, hiS: Boolean = false)
    def le(num: Boolean)(a: String, b: String): Boolean =
      if (num) new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b)) <= 0
      else a <= b
    def rv(l: Literal): Option[(String, Boolean)] =
      render(l).map(v => (v, l.dataType.isInstanceOf[NumericType]))
    def leafIv(e: Expression): Option[(String, Iv)] = e match {
      case EqualTo(a, l: Literal) =>
        for { c <- colOf(a); (v, n) <- rv(l) } yield (c, Iv(Some(v), Some(v), n))
      case EqualTo(l: Literal, a) =>
        for { c <- colOf(a); (v, n) <- rv(l) } yield (c, Iv(Some(v), Some(v), n))
      case EqualNullSafe(a, l: Literal) if l.value != null =>
        for { c <- colOf(a); (v, n) <- rv(l) } yield (c, Iv(Some(v), Some(v), n))
      case EqualNullSafe(l: Literal, a) if l.value != null =>
        for { c <- colOf(a); (v, n) <- rv(l) } yield (c, Iv(Some(v), Some(v), n))
      case GreaterThanOrEqual(a, l: Literal) =>
        for { c <- colOf(a); (v, n) <- rv(l) } yield (c, Iv(Some(v), None, n))
      case GreaterThan(a, l: Literal) =>
        for { c <- colOf(a); (v, n) <- rv(l) } yield
          (c, Iv(Some(v), None, n, loS = true))
      case LessThanOrEqual(a, l: Literal) =>
        for { c <- colOf(a); (v, n) <- rv(l) } yield (c, Iv(None, Some(v), n))
      case LessThan(a, l: Literal) =>
        for { c <- colOf(a); (v, n) <- rv(l) } yield
          (c, Iv(None, Some(v), n, hiS = true))
      case GreaterThanOrEqual(l: Literal, a) =>
        for { c <- colOf(a); (v, n) <- rv(l) } yield (c, Iv(None, Some(v), n))
      case GreaterThan(l: Literal, a) =>
        for { c <- colOf(a); (v, n) <- rv(l) } yield
          (c, Iv(None, Some(v), n, hiS = true))
      case LessThanOrEqual(l: Literal, a) =>
        for { c <- colOf(a); (v, n) <- rv(l) } yield (c, Iv(Some(v), None, n))
      case LessThan(l: Literal, a) =>
        for { c <- colOf(a); (v, n) <- rv(l) } yield
          (c, Iv(Some(v), None, n, loS = true))
      case In(a, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        colOf(a).flatMap { c =>
          val rvs = vs.map(v => rv(v.asInstanceOf[Literal]))
          if (rvs.exists(_.isEmpty)) None
          else {
            val vals = rvs.flatten
            val num = vals.head._2
            if (!vals.forall(_._2 == num)) None
            else {
              val sorted =
                if (num) vals.map(_._1).sortBy(new java.math.BigDecimal(_))
                else vals.map(_._1).sorted
              Some((c, Iv(Some(sorted.head), Some(sorted.last), num)))
            }
          }
        }
      case _ => None
    }
    def andSplit(e: Expression): Seq[Expression] = e match {
      case And(a, b) => andSplit(a) ++ andSplit(b)
      case x => Seq(x)
    }
    def orSplit(e: Expression): Seq[Expression] = e match {
      case Or(a, b) => orSplit(a) ++ orSplit(b)
      case x => Seq(x)
    }
    // per branch: intersect the convertible leaves' intervals per column
    val branchMaps: Seq[Map[String, Iv]] = orSplit(o).map { br =>
      andSplit(br).flatMap(leafIv)
        .groupBy(_._1).flatMap { case (c, ivs0) =>
          val ivs = ivs0.map(_._2)
          val num = ivs.head.num
          if (!ivs.forall(_.num == num)) None
          else {
            // intersection keeps the TIGHTEST side; on a value tie the
            // strict variant wins (x > 5 AND x >= 5 is x > 5)
            def eqv(a: String, b: String) = le(num)(a, b) && le(num)(b, a)
            val lo = ivs.collect {
              case iv if iv.lo.isDefined => (iv.lo.get, iv.loS) } match {
              case Seq() => None
              case ls => Some(ls.reduce((a, b) =>
                if (eqv(a._1, b._1)) (a._1, a._2 || b._2)
                else if (le(num)(a._1, b._1)) b else a))
            }
            val hi = ivs.collect {
              case iv if iv.hi.isDefined => (iv.hi.get, iv.hiS) } match {
              case Seq() => None
              case hs => Some(hs.reduce((a, b) =>
                if (eqv(a._1, b._1)) (a._1, a._2 || b._2)
                else if (le(num)(a._1, b._1)) a else b))
            }
            Some(c -> Iv(lo.map(_._1), hi.map(_._1), num,
              lo.exists(_._2), hi.exists(_._2)))
          }
        }
    }
    if (branchMaps.exists(_.isEmpty)) return (Nil, Nil) // unconstrained branch
    // branch bound sets for TRUE disjunctive resolution (dir kept iff
    // some branch's bounds all overlap) — no cross-branch ordering
    // needed, each bound compares under the dir's own stats kind
    val branches: Seq[Seq[XBound]] =
      branchMaps.map(_.toSeq.map { case (c, iv) =>
        XBound(c, iv.lo, iv.hi, iv.loS, iv.hiS) })
    val common = branchMaps.map(_.keySet).reduce(_ intersect _)
    val envelope = common.toSeq.flatMap { c =>
      val ivs = branchMaps.map(_(c))
      val num = ivs.head.num
      if (!ivs.forall(_.num == num)) None
      else {
        // union across branches: unbounded on any side wins
        val lo =
          if (ivs.exists(_.lo.isEmpty)) None
          else Some(ivs.flatMap(_.lo).reduce((a, b) => if (le(num)(a, b)) a else b))
        val hi =
          if (ivs.exists(_.hi.isEmpty)) None
          else Some(ivs.flatMap(_.hi).reduce((a, b) => if (le(num)(a, b)) b else a))
        if (lo.isEmpty && hi.isEmpty) None else Some((c, lo, hi))
      }
    }
    (envelope, branches)
  }
}
