package graft.sparql

import graft.Checkpoints
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.FastHash.md5 // shadows functions.md5 → Md5Fast (r19)
import Ast._

/** Compiles the SPARQL algebra subset (Ast) onto the triple relation.
  *
  * Spark-first counterpart of the reference's Gremlin emission
  * (reference: pidb-rdf-engine/src/main/java/sparql/SparqlToGremlinCompiler.java):
  * where the reference turns every triple pattern into a vertex-at-a-
  * time traversal step and `match()`es them, we turn each pattern into
  * a filtered projection of the triple table and equi-join on shared
  * variables — Catalyst then pushes the `p = const` filters into the
  * scan and AQE picks broadcast joins for small pattern sides at
  * runtime. Patterns are pre-ordered by a bound-term selectivity
  * heuristic so the join chain starts from the most selective scan and
  * never goes cartesian when a connected order exists.
  *
  * Variable ?x becomes column "x" (lexical form); a companion hidden
  * column "x__num" carries the numeric value when ?x binds to a
  * numeric literal, so FILTER / ORDER BY / MAX compare numerically
  * without casts in the hot path.
  */
object Compiler {

  private val NUM = "__num"
  private val LANG = "__lang"
  private val IRI = "__iri"

  def isNumCol(c: String): Boolean = c.endsWith(NUM)
  def isIriCol(c: String): Boolean = c.endsWith(IRI)
  def numCol(v: String): String = v + NUM
  def langCol(v: String): String = v + LANG
  def iriCol(v: String): String = v + IRI
  /** Hidden companion columns (numeric value / language tag / is-IRI
    * flag) that ride beside a variable's lexical column and never
    * join or project.
    */
  def isCompanion(c: String): Boolean =
    c.endsWith(NUM) || c.endsWith(LANG) || c.endsWith(IRI)

  /** One triple pattern → filtered projection of the triple table.
    * With `graphVar` set the input is the QUAD table and the graph
    * column is emitted as that variable — every pattern of a
    * GRAPH ?g group emits it, so the BGP's natural joins align the
    * graph binding across patterns (all must match within one graph).
    */
  private def patternDf(triples: DataFrame, tp: TriplePattern,
                        graphVar: Option[String] = None): DataFrame = {
    var df = triples
    tp.p match {
      case Iri(v) => df = df.filter(col("p") === v)
      case Var(_) => ()
      case _ =>
        throw new IllegalArgumentException("literal predicate")
    }
    tp.s match {
      case Iri(v) => df = df.filter(col("s") === v)
      case Var(_) => ()
      case _ =>
        throw new IllegalArgumentException("literal subject")
    }
    tp.o match {
      case Iri(v) => df = df.filter(col("o") === v && col("o_is_iri"))
      case Lit(_, Some(n), _) => df = df.filter(col("o_num") === n)
      // a lang-tagged literal matches only the same (lexical, tag)
      // pair — "chat"@fr and "chat" are different RDF terms; the tag
      // compares case-insensitively (RDF 1.1 §3.3 normalizes to
      // lowercase, but data may carry the mixed-case original)
      case Lit(lex, None, Some(tag)) =>
        df = df.filter(col("o") === lex && lower(col("lang")) === tag.toLowerCase)
      case Lit(lex, None, None) =>
        df = df.filter(col("o") === lex && !col("o_is_iri") && col("lang").isNull)
      case Var(_) => ()
      case Undef =>
        throw new IllegalArgumentException("UNDEF outside VALUES")
    }
    // same-var-twice patterns (?x :p ?x, ?x ?x ?o, …) constrain within
    // the row; all three pairwise combinations, each var emitted once.
    // Pairs involving the object also require o_is_iri — a literal
    // whose lexical form coincides with the subject IRI is a
    // different RDF term and must not match.
    Seq((tp.s, tp.p, "s", "p"), (tp.s, tp.o, "s", "o"), (tp.p, tp.o, "p", "o"))
      .foreach {
        case (Var(a), Var(b), ca, cb) if a == b =>
          val base = col(ca) === col(cb)
          df = df.filter(if (cb == "o") base && col("o_is_iri") else base)
        case _ => ()
      }
    val seen = scala.collection.mutable.Map.empty[String, String]
    val out = Seq.newBuilder[Column]
    def emit(position: String, t: Term, withNum: Boolean): Unit = t match {
      case Var(n) if !seen.contains(n) =>
        seen(n) = position
        out += col(position).as(n)
        if (withNum) {
          out += col("o_num").as(numCol(n))
          out += col("lang").as(langCol(n))
          out += col("o_is_iri").as(iriCol(n))
        }
      case _ => ()
    }
    emit("s", tp.s, withNum = false)
    emit("p", tp.p, withNum = false)
    // if ?x is also s or p it binds an IRI, whose o_num is null anyway
    emit("o", tp.o, withNum = true)
    graphVar.foreach { gn =>
      seen.get(gn) match {
        case None => out += col("g").as(gn)
        case Some(src) =>
          // GRAPH ?g { … ?g … }: the variable is already bound by a
          // triple position, so the graph name constrains THIS row —
          // filter rather than silently dropping the equation. An
          // object binding must also be an IRI: a literal spelled
          // like the graph name is a different RDF term.
          val eq = col("g") === col(src)
          df = df.filter(if (src == "o") eq && col("o_is_iri") else eq)
      }
    }
    df.select(out.result(): _*)
  }

  /** More bound terms ⇒ more selective ⇒ earlier in the join chain. */
  private def selectivity(tp: TriplePattern): Int = {
    def bound(t: Term, w: Int) = t match {
      case Var(_) => 0
      case _ => w
    }
    bound(tp.s, 4) + bound(tp.o, 2) + bound(tp.p, 1)
  }

  private def vars(tp: TriplePattern): Set[String] =
    Seq(tp.s, tp.p, tp.o).collect { case Var(n) => n }.toSet

  /** Greedy connected ordering: start at the most selective pattern,
    * always extend with a pattern sharing a variable (avoids
    * accidental cartesian products when the BGP is connected).
    */
  private[sparql] def orderPatterns(triples: DataFrame,
                                    ps: Seq[TriplePattern]): Seq[TriplePattern] = {
    if (ps.size <= 1) return ps
    statsOf(triples) match {
      case Some(stats) =>
        // stats-driven greedy: start from the pattern with the
        // SMALLEST estimated scan (real per-predicate counts), always
        // extend with the smallest-estimate connected pattern; the
        // static bound-term weight breaks ties so equal-count
        // patterns keep the heuristic order. At 100× scale joining
        // the rare predicate's slice first bounds every intermediate
        // by ~|rare| instead of ~|hot|.
        val total = stats.valuesIterator.map(_.n).sum
        val remaining = scala.collection.mutable.ArrayBuffer(
          ps.map(p => (p, estimateRows(stats, total, p))): _*)
        val out = Seq.newBuilder[TriplePattern]
        var boundVars = Set.empty[String]
        while (remaining.nonEmpty) {
          val connected = remaining.filter(c =>
            boundVars.isEmpty || vars(c._1).intersect(boundVars).nonEmpty)
          val pool = if (connected.nonEmpty) connected else remaining
          val next = pool.minBy(c => (c._2, -selectivity(c._1)))
          remaining -= next
          out += next._1
          boundVars ++= vars(next._1)
        }
        out.result()
      case None =>
        val remaining = scala.collection.mutable.ListBuffer(ps.sortBy(-selectivity(_)): _*)
        val out = Seq.newBuilder[TriplePattern]
        var boundVars = Set.empty[String]
        while (remaining.nonEmpty) {
          val next = remaining.find(p => boundVars.isEmpty || vars(p).intersect(boundVars).nonEmpty)
            .getOrElse(remaining.head) // disconnected BGP: cartesian is semantically required
          remaining -= next
          out += next
          boundVars ++= vars(next)
        }
        out.result()
    }
  }

  /** The registered per-predicate profile of the relation, if any
    * (empty profiles — a cleared weak ref — read as none).
    */
  private def statsOf(triples: DataFrame)
      : Option[Map[String, graft.rdf.TripleStats.PredStat]] =
    graft.rdf.TripleStats.forFrame(triples).filter(_.nonEmpty)

  /** Estimated solution rows of ONE pattern's scan against a profiled
    * relation: the predicate's actual triple count, divided by its
    * distinct-subject / distinct-object count per bound endpoint
    * (uniformity assumption — the standard first-order cardinality
    * model). A constant predicate absent from the data estimates 0:
    * its scan is provably empty and should lead the join chain.
    */
  private def estimateRows(stats: Map[String, graft.rdf.TripleStats.PredStat],
                           total: Long, tp: TriplePattern): Double = {
    val (n, ns, no) = tp.p match {
      case Iri(pv) => stats.get(pv) match {
        case Some(st) => (st.n.toDouble,
          st.nSubjects.toDouble.max(1.0), st.nObjects.toDouble.max(1.0))
        case None => (0.0, 1.0, 1.0)
      }
      case _ =>
        // variable predicate: the whole relation; endpoint fan-in
        // approximated by the summed per-predicate distinct counts
        (total.toDouble,
          stats.valuesIterator.map(_.nSubjects).sum.toDouble.max(1.0),
          stats.valuesIterator.map(_.nObjects).sum.toDouble.max(1.0))
    }
    val sFactor = tp.s match { case Var(_) => 1.0; case _ => ns }
    val oFactor = tp.o match { case Var(_) => 1.0; case _ => no }
    n / sFactor / oFactor
  }

  /** Stats phase 2 (r16): estimated OUTPUT rows of a whole BGP under
    * the uniformity join model (System-R): patterns fold in
    * [[orderPatterns]] order; each join on a shared variable divides
    * by the larger of the two sides' distinct-value estimates, and
    * the surviving distinct estimate is the smaller. Per-pattern
    * inputs are EXACT per-predicate counts from the persisted stats;
    * only the join independence assumption is a model. Drives the
    * OPTIONAL/MINUS small-side broadcast hints.
    */
  private def estimateBgpRows(
      stats: Map[String, graft.rdf.TripleStats.PredStat],
      total: Long, ps: Seq[TriplePattern]): Double = {
    var card = 1.0
    val distinct = scala.collection.mutable.Map.empty[String, Double]
    ps.foreach { tp =>
      val n = estimateRows(stats, total, tp)
      // endpoint distinct-value estimates for this pattern's scan
      val (ns, no) = tp.p match {
        case Iri(pv) => stats.get(pv) match {
          case Some(st) => (st.nSubjects.toDouble.max(1.0),
            st.nObjects.toDouble.max(1.0))
          case None => (1.0, 1.0)
        }
        case _ => (stats.valuesIterator.map(_.nSubjects).sum.toDouble.max(1.0),
          stats.valuesIterator.map(_.nObjects).sum.toDouble.max(1.0))
      }
      var sel = 1.0
      def joinVar(v: String, vp: Double): Unit = distinct.get(v) match {
        case Some(vr) =>
          sel /= vr.max(vp)
          distinct(v) = vr.min(vp)
        case None => distinct(v) = vp
      }
      tp.s match { case Var(a) => joinVar(a, ns.min(n.max(1.0))); case _ => () }
      tp.o match { case Var(a) => joinVar(a, no.min(n.max(1.0))); case _ => () }
      tp.p match { case Var(a) => joinVar(a, stats.size.toDouble.max(1.0)); case _ => () }
      card = card * n * sel
    }
    card
  }

  /** Estimated output rows of a pattern when the model covers it:
    * BGPs estimate through [[estimateBgpRows]]; filters and BINDs
    * only shrink or keep their input. Anything else (unions, paths,
    * subqueries) returns None — no hint rather than a guess.
    *
    * The estimate is floored at the largest single pattern's EXACT
    * per-predicate input count: the System-R division assumes join
    * independence, and a correlated join's real output tracks its
    * input scale — taking max(model, exact floor) keeps a store-sized
    * side from being force-broadcast on an optimistic division (an
    * explicit hint bypasses autoBroadcastJoinThreshold and AQE never
    * demotes it, so a bad hint is an executor OOM, not a slow plan).
    */
  private def estimatePatternRows(triples: DataFrame,
                                  p: Pattern): Option[Double] =
    statsOf(triples).flatMap { stats =>
      val total = stats.valuesIterator.map(_.n).sum
      def est(p: Pattern): Option[Double] = p match {
        case Bgp(ps) if ps.nonEmpty =>
          val ordered = orderPatterns(triples, ps)
          Some(estimateBgpRows(stats, total, ordered)
            .max(ordered.map(estimateRows(stats, total, _)).max))
        case Filter(_, in) => est(in)
        case Bind(in, _, _) => est(in)
        case _ => None
      }
      est(p)
    }

  /** Broadcast-hint a compiled OPTIONAL/MINUS right side whose
    * estimated output is small: the compat join then hashes the
    * little frame on every executor instead of shuffling the (often
    * store-sized) left side. The hint reaches the INITIAL plan, so
    * the first execution never pays the shuffle AQE would only
    * un-do in a reused-exchange re-plan.
    */
  private def hintSmallSide(triples: DataFrame, p: Pattern,
                            df: DataFrame): DataFrame =
    if (estimatePatternRows(triples, p).exists(_ <= graft.rdf.TripleStats.smallRows))
      broadcast(df)
    else df

  /** All variables a pattern can bind in its solution frame. */
  private def allVars(p: Pattern): Set[String] = p match {
    case Bgp(ps) => ps.flatMap(vars).toSet
    case GraphBgp(g, ps) => ps.flatMap(vars).toSet ++
      (g match { case Var(n) => Set(n); case _ => Set.empty[String] })
    // the graph var included for symmetry with GraphBgp (the compiler
    // currently rejects a variable-graph GraphGroup, but scoping
    // decisions upstream of that rejection must still see it)
    case GraphGroup(g, inner) => allVars(inner) ++
      (g match { case Var(n) => Set(n); case _ => Set.empty[String] })
    case GraphPath(gn, inner) => allVars(inner) + gn
    case PerGraphLimited(gn, q, dropAfter) =>
      subSelectVars(q) -- dropAfter + gn
    case PerGraphGlobalAgg(gn, q) => subSelectVars(q) + gn
    case GraphNames(gn) => Set(gn)
    case Filter(_, in) => allVars(in)
    case LeftJoin(l, r) => allVars(l) ++ allVars(r)
    case Union(l, r) => allVars(l) ++ allVars(r)
    case Join(l, r) => allVars(l) ++ allVars(r)
    case Minus(l, _) => allVars(l)
    case Bind(in, _, as) => allVars(in) + as
    case ValuesPattern(vs, _) => vs.map(_.name).toSet
    case SubSelect(q) => subSelectVars(q)
    case PreBound(_, vs) => vs.toSet
    case other =>
      // path forms: variable endpoints
      val ts: Seq[Term] = other match {
        case PathPlus(s, _, o) => Seq(s, o)
        case PathStar(s, _, o) => Seq(s, o)
        case PathZeroOne(s, _, o) => Seq(s, o)
        case PathAlt(s, _, o) => Seq(s, o)
        case PathRange(s, _, _, _, o) => Seq(s, o)
        case PathSeq(s, _, o) => Seq(s, o)
        case PathSeqMod(s, _, _, o) => Seq(s, o)
        case PathSeqRange(s, _, _, _, o) => Seq(s, o)
        case NegPath(s, _, o) => Seq(s, o)
        case _ => Seq.empty
      }
      ts.collect { case Var(n) => n }.toSet
  }

  /** Conservative over-approximation of the variables that can be
    * UNBOUND (the "N/A" sentinel) in a pattern's solution frame:
    * OPTIONAL-introduced vars, UNION one-sided vars, VALUES UNDEF
    * cells. Drives [[compatLeftJoin]]'s mask split — everything else
    * joins by plain equality.
    */
  private def maybeUnboundVars(p: Pattern): Set[String] = p match {
    case GraphGroup(_, inner) => maybeUnboundVars(inner)
    case Filter(_, in) => maybeUnboundVars(in)
    case LeftJoin(l, r) =>
      maybeUnboundVars(l) ++ allVars(r) -- allVars(l).diff(maybeUnboundVars(l))
    case Union(l, r) =>
      maybeUnboundVars(l) ++ maybeUnboundVars(r) ++
        (allVars(l) diff allVars(r)) ++ (allVars(r) diff allVars(l))
    case Join(l, r) => maybeUnboundVars(l) ++ maybeUnboundVars(r)
    case Minus(l, _) => maybeUnboundVars(l)
    case Bind(in, _, _) => maybeUnboundVars(in)
    case ValuesPattern(vs, rows) =>
      vs.zipWithIndex.collect {
        case (v, i) if rows.exists(r => r(i) == Undef) => v.name
      }.toSet
    case SubSelect(q) =>
      // §18.2.4: a projected variable bound NOWHERE in the subquery
      // is still materialized (as the unbound sentinel) — it must be
      // flagged, or an enclosing Join/MINUS takes the plain equi-join
      // path and compares the sentinel by equality. SELECT * (empty
      // projection, no aggregates) projects every where-var.
      maybeUnboundVars(q.where).intersect(subSelectVars(q)) ++
        (q.projection.toSet diff allVars(q.where))
    case PerGraphLimited(_, q, dropAfter) =>
      maybeUnboundVars(SubSelect(q)) -- dropAfter
    // a match-free graph's MIN/MAX/SAMPLE fill as unbound
    case PerGraphGlobalAgg(_, q) =>
      maybeUnboundVars(SubSelect(q)) ++ q.aggregates.collect {
        case a if Set[AggOp](Min, Max, Sample).contains(a.op) => a.alias
      }
    case _ => Set.empty
  }

  /** The variable columns a SubSelect's frame exposes: the explicit
    * projection plus aggregate aliases; SELECT * (empty projection,
    * no aggregates) exposes every where-var.
    */
  private def subSelectVars(q: SelectQuery): Set[String] =
    (if (q.projection.isEmpty && q.aggregates.isEmpty) allVars(q.where)
     else q.projection.toSet) ++ q.aggregates.map(_.alias)

  /** W3C-compatible OPTIONAL join (§6.2 LeftJoin): a left solution
    * whose shared variable is UNBOUND is compatible with ANY right
    * binding of it and ADOPTS the right value in the merge — plain
    * column equality would wrongly fail those rows against the "N/A"
    * sentinel. Left rows split by their unbound-mask over the
    * possibly-unbound shared variables (a STATIC set, almost always
    * empty → the single plain left join); each mask slice equi-joins
    * on its bound subset and the slices union back. 2^k branches for
    * k possibly-unbound shared vars keeps every branch a broadcast-
    * friendly equi-join — no null-tolerant theta-join ever touches
    * the big side (same posture as the VALUES UNDEF compatibility
    * join).
    */
  private def compatLeftJoin(ldf0: DataFrame, rdf0: DataFrame,
                             maybeUnbound: Set[String]): DataFrame = {
    val shared = ldf0.columns.intersect(rdf0.columns).filterNot(isCompanion).toSeq
    val risky = shared.filter(maybeUnbound)
    def naFill(df: DataFrame, leftCols: Seq[String]): DataFrame = {
      // reference fills unmatched OPTIONAL vars with constant "N/A"
      // (SparqlToGremlinCompiler.java:122). TYPED right-only columns
      // (numeric BIND outputs riding the frame) represent unbound as
      // SQL null instead — coalescing the lexical sentinel into a
      // double column ANSI-crashes the cast (r18, found by the
      // DATATYPE fill probe), and unboundCol's typed branch already
      // reads plain null
      val optOnly = rdf0.columns.filterNot(isCompanion).diff(leftCols)
      optOnly.foldLeft(df)((d, c) =>
        if (d.schema(c).dataType != org.apache.spark.sql.types.StringType) d
        else d.withColumn(c, coalesce(col(c), lit("N/A"))))
    }
    if (risky.isEmpty)
      return naFill(joinOnVars(ldf0, rdf0, "left_outer"), ldf0.columns.toSeq)
    if (risky.size > maskBudget)
      return thetaCompatLeftJoin(ldf0, rdf0, shared, risky.toSet)
    // both inputs feed every one of the 2^k slice joins — checkpoint
    // so the slices re-read a materialization instead of re-running
    // the whole upstream subplan per slice
    val ldf = Checkpoints.tracked(ldf0)
    val rdf = Checkpoints.tracked(rdf0)
    padUnion(unboundMaskSlices(ldf, risky).map { case (_, slice) =>
      naFill(joinOnVars(slice, rdf, "left_outer"), slice.columns.toSeq)
    })
  }

  /** Union frames with differing column sets, null-padding the gaps
    * with companion-appropriate types.
    */
  private def padUnion(branches: Seq[DataFrame]): DataFrame = {
    val allCols = branches.map(_.columns.toSeq).reduce((a, b) => a ++ b.diff(a))
    branches.map { df =>
      df.select(allCols.map(c =>
        if (df.columns.contains(c)) col(c)
        else lit(null).cast(
          if (isNumCol(c)) "double"
          else if (isIriCol(c)) "boolean"
          else "string").as(c)): _*)
    }.reduce(_.unionByName(_))
  }

  /** The unbound-mask slices of a frame over its risky columns: for
    * each subset of `risky` treated as unbound, the rows whose risky
    * columns are unbound ("N/A" sentinel or real null) exactly there,
    * with those columns (and companions) dropped. Every row lands in
    * exactly one slice; an all-bound risky set yields the single
    * untouched frame.
    */
  /** Mask-split slice budget: past 2^6 = 64 slices the union of
    * equi-joins costs more than one null-tolerant theta join, so the
    * compat operators switch to their [[thetaCompat]] fallback
    * instead of refusing the query (maybeUnboundVars deliberately
    * over-approximates, so 7+ risky shared vars is legal input).
    * The theta fallback is nested-loop-shaped and must stay the
    * escape hatch, never the default: PlanSpec's "theta-fallback
    * boundary" test pins the common risky=∅ and in-budget paths to
    * plain equi-joins (no BNLJ/CartesianProduct).
    */
  private val maskBudget = 6

  private def unboundMaskSlices(df: DataFrame, risky: Seq[String])
      : Seq[(Set[String], DataFrame)] = {
    if (risky.isEmpty) return Seq((Set.empty[String], df))
    require(risky.size <= maskBudget,
      s"mask split over ${risky.size} vars exceeds the 2^$maskBudget " +
        "slice budget — callers must take the theta fallback")
    (0 until (1 << risky.size)).map { m =>
      val unbound = risky.zipWithIndex.collect {
        case (v, i) if (m & (1 << i)) != 0 => v
      }.toSet
      val cond = risky.zipWithIndex.map { case (v, i) =>
        val unb = unboundCol(df, v)
        if ((m & (1 << i)) != 0) unb else !unb
      }.reduce(_ && _)
      val dropCols = unbound.toSeq.flatMap(v =>
        Seq(v, numCol(v), langCol(v), iriCol(v))).filter(df.columns.contains)
      (unbound, df.filter(cond).drop(dropCols: _*))
    }
  }

  /** W3C-compatible INNER join (§6.2 Join): solutions merge when they
    * agree on the variables BOTH bind; a variable either side leaves
    * unbound constrains nothing and the merge adopts the bound
    * side's value (unbound on both stays unbound). Arises whenever a
    * group whose solutions may carry unbound vars — a UNION with
    * one-sided variables, an OPTIONAL-bearing sub-group, a subquery —
    * joins another group on those vars; plain column equality would
    * silently drop every such row. Both sides mask-split over their
    * possibly-unbound shared vars (statically derived, almost always
    * none → the single plain join); each slice pair equi-joins on the
    * vars bound on both sides, both-unbound vars re-enter as unbound,
    * and the pairs union back.
    */
  private def compatInnerJoin(ldf0: DataFrame, rdf0: DataFrame,
                              lRisky: Set[String], rRisky: Set[String]): DataFrame = {
    val shared = ldf0.columns.intersect(rdf0.columns).filterNot(isCompanion).toSeq
    val riskyL = shared.filter(lRisky)
    val riskyR = shared.filter(rRisky)
    if (riskyL.isEmpty && riskyR.isEmpty) return joinOnVars(ldf0, rdf0)
    if (riskyL.size + riskyR.size > maskBudget)
      return thetaCompatInnerJoin(ldf0, rdf0, shared, riskyL.toSet, riskyR.toSet)
    // every (left slice × right slice) pair re-reads both inputs —
    // checkpoint once so 2^(kl+kr) branches scan a materialization
    val ldf = Checkpoints.tracked(ldf0)
    val rdf = Checkpoints.tracked(rdf0)
    val branches = for {
      (unbL, sliceL) <- unboundMaskSlices(ldf, riskyL)
      (unbR, sliceR) <- unboundMaskSlices(rdf, riskyR)
    } yield {
      // a var unbound on one side only comes from the other side via
      // the join; unbound on both re-enters as the sentinel
      val joined = joinOnVars(sliceL, sliceR)
      (unbL intersect unbR).foldLeft(joined)((d, v) =>
        d.withColumn(v, lit("N/A")))
    }
    padUnion(branches)
  }

  /** W3C-compatible MINUS (§8.3): remove a left solution when some
    * right solution is compatible with it AND their bound domains
    * overlap. A left-unbound shared var drops out of the comparison
    * domain — plain anti-join equality on the sentinel would keep
    * rows the spec removes. Each left unbound-mask slice anti-joins
    * per right mask group on the vars bound on BOTH sides; a slice
    * pair with no such vars has disjoint domains and removes nothing.
    */
  private def compatMinus(ldf0: DataFrame, rdf0: DataFrame,
                          lRisky: Set[String], rRisky: Set[String]): DataFrame = {
    val shared = ldf0.columns.intersect(rdf0.columns).filterNot(isCompanion).toSeq
    val riskyL = shared.filter(lRisky)
    val riskyR = shared.filter(rRisky)
    if (riskyL.isEmpty && riskyR.isEmpty)
      return joinOnVars(ldf0, rdf0, "left_anti")
    if (riskyL.size + riskyR.size > maskBudget)
      return thetaCompatMinus(ldf0, rdf0, shared, riskyL.toSet, riskyR.toSet)
    // each left slice chains an anti-join against every right mask
    // group — checkpoint both inputs so the 2^kl × 2^kr reads scan a
    // materialization, not the upstream subplan
    val ldf = Checkpoints.tracked(ldf0)
    val rdf = Checkpoints.tracked(rdf0)
    val slices = unboundMaskSlices(ldf, riskyL).map { case (unbL, slice0) =>
      // survival = not compatible with ANY right group: chain the
      // anti-joins; re-enter the sliced-off unbound vars afterwards
      val survived = unboundMaskSlices(rdf, riskyR)
        .foldLeft(slice0) { case (acc, (unbR, rSlice)) =>
          val keys = shared.filterNot(unbL).filterNot(unbR)
          if (keys.isEmpty) acc // disjoint domains: MINUS is a no-op
          else joinOnVars(acc, rSlice.select(
            keys.map(col): _*).distinct(), "left_anti")
        }
      unbL.foldLeft(survived)((d, v) => d.withColumn(v, lit("N/A")))
    }
    padUnion(slices)
  }

  // ---- theta compatibility fallback --------------------------------
  // Past the mask-split budget (7+ possibly-unbound shared vars →
  // 2^k slices would exceed 64) the compat operators run as ONE
  // null-tolerant theta join: an OR'd unbound arm per risky var keeps
  // §6.2 compatibility exact on any arity. Catalyst can't equi-plan
  // the OR, so this is a broadcast-nested-loop — acceptable because
  // the shape is a deliberate rarity (maybeUnboundVars already
  // over-approximates and real queries stay in low single digits).

  /** Row-level unboundness of variable column `v`: a real null, or
    * the reference's "N/A" display sentinel — UNLESS the term-kind
    * companion proves the row is a genuine pattern-bound literal that
    * merely spells "N/A". Fill sites (naFill, the §18.2.4 sentinel
    * projection, both-unbound re-entry) never attach a companion,
    * while object-position pattern bindings always do, so real "N/A"
    * data survives compat joins, BOUND() and aggregates (r12 advice).
    * Known residue: a subject-position or BIND-minted "N/A" carries
    * no companion and still reads as unbound.
    */
  private def unboundCol(df: DataFrame, v: String): Column =
    // a TYPED column (aggregate output riding a subquery frame) can
    // never hold the string sentinel — and comparing it to "N/A"
    // would ANSI-crash the cast; typed unboundness is plain null
    if (df.schema(v).dataType != org.apache.spark.sql.types.StringType)
      col(v).isNull
    else if (df.columns.contains(iriCol(v)))
      col(v).isNull || (col(v) === "N/A" && col(iriCol(v)).isNull)
    else col(v).isNull || col(v) === "N/A"

  /** [[unboundCol]] against the `__cr_`-renamed right side of a theta
    * compatibility join.
    */
  private def unboundColR(rdf: DataFrame, v: String): Column =
    // `rdf` is the right side BEFORE the __cr_ rename (callers use it
    // for companion checks); the produced Column references the
    // renamed frame
    if (rdf.schema(v).dataType != org.apache.spark.sql.types.StringType)
      rCol(v).isNull
    else if (rdf.columns.contains(iriCol(v)))
      rCol(v).isNull || (rCol(v) === "N/A" && rCol(iriCol(v)).isNull)
    else rCol(v).isNull || rCol(v) === "N/A"

  /** Rename every column of `df` behind a reserved prefix so a theta
    * join can reference both sides unambiguously.
    */
  private def rPrefixed(df: DataFrame): DataFrame =
    df.columns.foldLeft(df)((d, c) => d.withColumnRenamed(c, "__cr_" + c))

  private def rCol(c: String): Column = col("__cr_" + c)

  /** The column `name` on a side, or a typed null when that side
    * never produced it (padUnion's convention).
    */
  private def sideCol(df: DataFrame, name: String, right: Boolean): Column =
    if (df.columns.contains(name)) { if (right) rCol(name) else col(name) }
    else lit(null).cast(
      if (isNumCol(name)) "double"
      else if (isIriCol(name)) "boolean"
      else "string")

  /** θ-fallback of [[compatLeftJoin]]: left-outer on (unbound(l.v) ∨
    * l.v = r.v) per risky var (plain equality otherwise); risky vars
    * and their companions adopt the right side where the left was
    * unbound; unmatched right-only and still-unbound value columns
    * fill "N/A" exactly like the slice path's naFill.
    */
  private def thetaCompatLeftJoin(ldf: DataFrame, rdf: DataFrame,
                                  shared: Seq[String],
                                  risky: Set[String]): DataFrame = {
    val r2 = rPrefixed(rdf)
    val cond = shared.map { v =>
      val eq = col(v) === rCol(v)
      if (risky(v)) unboundCol(ldf, v) || eq else eq
    }.reduce(_ && _)
    val joined = ldf.join(r2, cond, "left_outer")
    val rOnly = rdf.columns.filterNot(ldf.columns.contains).toSeq
    val out = (ldf.columns.toSeq ++ rOnly).map { c =>
      val base = Seq(NUM, LANG, IRI).foldLeft(c)((s, suf) =>
        s.stripSuffix(suf))
      val sharedRisky = shared.contains(base) && risky(base)
      val expr =
        if (isCompanion(c)) {
          if (sharedRisky)
            when(unboundCol(ldf, base), sideCol(rdf, c, right = true))
              .otherwise(coalesce(sideCol(ldf, c, right = false),
                sideCol(rdf, c, right = true)))
          else if (ldf.columns.contains(c)) col(c)
          else rCol(c)
        } else if (sharedRisky) {
          // TYPED columns represent unbound as SQL null — coalescing
          // the lexical sentinel into them ANSI-crashes the cast
          // (same r18 fix as naFill / leftJoinWithCondition.pad)
          val merged = when(unboundCol(ldf, c), rCol(c)).otherwise(col(c))
          if (ldf.schema(c).dataType !=
            org.apache.spark.sql.types.StringType) merged
          else coalesce(merged, lit("N/A"))
        } else if (ldf.columns.contains(c)) col(c)
        else if (rdf.schema(c).dataType !=
          org.apache.spark.sql.types.StringType) rCol(c)
        else coalesce(rCol(c), lit("N/A"))
      expr.as(c)
    }
    joined.select(out: _*)
  }

  /** θ-fallback of [[compatInnerJoin]]: inner join on (unbound on a
    * risky side ∨ equal) per shared var; the merge keeps the bound
    * side's value+companions, both-unbound re-enters as the sentinel
    * with null companions — the slice path's exact output.
    */
  private def thetaCompatInnerJoin(ldf: DataFrame, rdf: DataFrame,
                                   shared: Seq[String], riskyL: Set[String],
                                   riskyR: Set[String]): DataFrame = {
    val r2 = rPrefixed(rdf)
    val cond = shared.map { v =>
      val arms = Seq(
        if (riskyL(v)) Some(unboundCol(ldf, v)) else None,
        if (riskyR(v)) Some(unboundColR(rdf, v)) else None,
        Some(col(v) === rCol(v))).flatten
      arms.reduce(_ || _)
    }.reduce(_ && _)
    val joined = ldf.join(r2, cond, "inner")
    val rOnly = rdf.columns.filterNot(ldf.columns.contains).toSeq
    val out = (ldf.columns.toSeq ++ rOnly).map { c =>
      val base = Seq(NUM, LANG, IRI).foldLeft(c)((s, suf) =>
        s.stripSuffix(suf))
      val expr =
        if (!shared.contains(base)) {
          if (ldf.columns.contains(c)) col(c) else rCol(c)
        } else if (isCompanion(c))
          when(!unboundCol(ldf, base),
            coalesce(sideCol(ldf, c, right = false),
              sideCol(rdf, c, right = true)))
            .when(!unboundColR(rdf, base),
              sideCol(rdf, c, right = true))
        else
          when(!unboundCol(ldf, c), col(c))
            .when(!unboundColR(rdf, c), rCol(c))
            .otherwise(lit("N/A"))
      expr.as(c)
    }
    joined.select(out: _*)
  }

  /** θ-fallback of [[compatMinus]]: anti-join on per-var
    * compatibility (unbound on a risky side ∨ equal) AND a non-empty
    * bound-domain overlap (§8.3's dom(μ) ∩ dom(μ') ≠ ∅).
    */
  private def thetaCompatMinus(ldf: DataFrame, rdf: DataFrame,
                               shared: Seq[String], riskyL: Set[String],
                               riskyR: Set[String]): DataFrame = {
    // keep the right term-kind companions of risky vars: unboundColR
    // consults them to tell a genuine "N/A" literal from the fill
    val rKeep = shared.flatMap(v => Seq(v) ++
      Seq(iriCol(v)).filter(rdf.columns.contains)).distinct
    val rSlim = rdf.select(rKeep.map(col): _*).distinct()
    val r2 = rPrefixed(rSlim)
    val compat = shared.map { v =>
      val arms = Seq(
        if (riskyL(v)) Some(unboundCol(ldf, v)) else None,
        if (riskyR(v)) Some(unboundColR(rSlim, v)) else None,
        Some(col(v) === rCol(v))).flatten
      arms.reduce(_ || _)
    }.reduce(_ && _)
    val overlap = shared
      .map(v => !unboundCol(ldf, v) && !unboundColR(rSlim, v))
      .reduce(_ || _)
    ldf.join(r2, compat && overlap, "left_anti")
  }

  /** Natural join on shared variable columns; right-side duplicate
    * numeric companions are dropped (equal by construction).
    */
  private def joinOnVars(acc: DataFrame, next: DataFrame, joinType: String = "inner"): DataFrame = {
    val shared = acc.columns.intersect(next.columns).filterNot(isCompanion)
    val dupNums = acc.columns.intersect(next.columns).filter(isCompanion)
    val r = next.drop(dupNums: _*)
    if (shared.nonEmpty) acc.join(r, shared.toSeq, joinType)
    else joinType match {
      // variable-disjoint sides: a TRUE-condition join keeps the
      // requested semantics (semi: keep left iff right non-empty;
      // anti: keep left iff right empty; outer: cross but left rows
      // survive an empty right) where a bare crossJoin would not.
      case "inner" => acc.crossJoin(r)
      case other => acc.join(r, lit(true), other)
    }
  }

  /** Zero-column single-row relation — the unit of joins, and the
    * value of an empty group pattern.
    */
  private def unitTable(triples: DataFrame): DataFrame =
    triples.sparkSession.range(1).toDF().select()

  /** Constant inline-binding table (VALUES): per variable a lexical
    * column + numeric companion (so VALUES over numbers composes with
    * numeric FILTER/aggregation); UNDEF entries are null (unbound);
    * always broadcast-sized.
    */
  private def valuesTable(spark: org.apache.spark.sql.SparkSession,
                          vs: Seq[Var], valueRows: Seq[Seq[Term]]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
    val schema = StructType(vs.flatMap(v => Seq(
      StructField(v.name, StringType, nullable = true),
      StructField(numCol(v.name), DoubleType, nullable = true))))
    val rows: java.util.List[Row] = new java.util.ArrayList[Row]
    valueRows.foreach { r =>
      rows.add(Row.fromSeq(r.flatMap {
        case Iri(x) => Seq(x, null)
        case Lit(lex, num, _) => Seq(lex, num.map(Double.box).orNull)
        case Undef => Seq(null, null)
        case Var(_) =>
          throw new IllegalArgumentException("VALUES entries must be constants")
      }))
    }
    spark.createDataFrame(rows, schema)
  }

  /** W3C-compatible join of a solution frame with a VALUES table
    * containing UNDEF rows (§10.2.2): rows are grouped by their
    * BINDING MASK (which variables they bind), each mask group
    * equi-joins only on its bound variables, and the groups union
    * back (missing columns null-filled). The number of groups is
    * bounded by the inline row count — a query constant — so the
    * plan stays a union of broadcast equi-joins; no null-tolerant
    * theta-join ever touches the big side.
    */
  private def compatValuesJoin(ldf: DataFrame, vs: Seq[Var],
                               valueRows: Seq[Seq[Term]]): DataFrame = {
    val spark = ldf.sparkSession
    val groups = valueRows.groupBy(
      _.zipWithIndex.collect { case (t, i) if t != Undef => i })
    val parts = groups.toSeq.map { case (mask, rs) =>
      val subVars = mask.map(vs(_))
      val sub = valuesTable(spark, subVars, rs.map(r => mask.map(r(_))))
      val joined =
        if (subVars.isEmpty)
          // all-UNDEF rows: compatible with everything; each such row
          // contributes one copy (multiset semantics)
          if (rs.size == 1) ldf
          else ldf.crossJoin(spark.range(rs.size).toDF().select())
        else joinOnVars(ldf, sub)
      // variables this mask leaves unbound still occupy a column so
      // the group frames align; ones the pattern side already binds
      // keep the pattern's values (UNDEF constrains nothing)
      vs.map(_.name).filterNot(joined.columns.contains)
        .foldLeft(joined)((d, v) =>
          d.withColumn(v, lit(null).cast("string")))
    }
    parts.reduceLeft((a, b) => a.unionByName(b, allowMissingColumns = true))
  }

  private def compileBgp(triples: DataFrame, ps: Seq[TriplePattern]): DataFrame =
    if (ps.isEmpty) unitTable(triples)
    else {
      val ordered = orderPatterns(triples, ps)
      val hinted = statsOf(triples) match {
        case Some(stats) =>
          // broadcast-hint the pattern sides whose ESTIMATED scan is
          // small (real stats, not hope): their joins hash-broadcast
          // instead of shuffling the big side, and the hint reaches
          // the initial plan — before AQE's first shuffle would have
          // measured it
          val total = stats.valuesIterator.map(_.n).sum
          ordered.map { tp =>
            val df = patternDf(triples, tp)
            if (estimateRows(stats, total, tp) <= graft.rdf.TripleStats.smallRows)
              broadcast(df)
            else df
          }
        case None => ordered.map(patternDf(triples, _))
      }
      hinted.reduceLeft(joinOnVars(_, _))
    }

  /** Push a variable graph term into every BGP of a group body, so
    * the graph name rides each pattern as a joined column (the
    * column-threading that makes `GRAPH ?g { general body }` one
    * relational pass). Returns None when the body contains a node the
    * column cannot thread through — path closures, sub-SELECTs,
    * inline VALUES (whose rows would need per-graph replication) —
    * in which case the caller enumerates named graphs instead.
    * Nested GRAPH nodes pass through UNTOUCHED: they re-scope to
    * their own graph term (§13.3), not ours.
    */
  private def threadGraphVar(gn: String, p: Pattern): Option[Pattern] = p match {
    case Bgp(ps) => Some(GraphBgp(Var(gn), ps))
    // EXISTS bodies evaluate against the ACTIVE graph (§13.3): thread
    // the graph column into each body too, so the semi/anti/flag join
    // keys on ?g and the whole filter stays one pass over the quads.
    // That keying NEEDS ?g bound on the input side — an input that
    // never binds it (pure VALUES) gets the graph-name frame joined
    // in, so each row carries the graph its EXISTS evaluates against.
    case Filter(es, in) => for {
      in1 <- threadGraphVar(gn, in)
      in2 = bindGn(gn, in1, es.exists(containsExists))
      es2 <- sequenceOpts(es.map(threadGraphInExpr(gn, _)))
    } yield Filter(es2, in2)
    case LeftJoin(l, r) => for {
      l2 <- threadGraphVar(gn, l); r2 <- threadGraphVar(gn, r)
    } yield LeftJoin(bindGn(gn, l2, allVars(r2).contains(gn)), r2)
    // a UNION branch that binds no graph-linked variable (inline
    // VALUES, a var-free group) still solves PER NAMED GRAPH when its
    // sibling does — padding its ?g to null (what the raw union would
    // do) is wrong, so the graph-name frame replicates it instead
    case Union(l, r) => for {
      l2 <- threadGraphVar(gn, l); r2 <- threadGraphVar(gn, r)
    } yield Union(bindGn(gn, l2, allVars(r2).contains(gn)),
                  bindGn(gn, r2, allVars(l2).contains(gn)))
    case Join(l, r) => for {
      l2 <- threadGraphVar(gn, l); r2 <- threadGraphVar(gn, r)
    } yield Join(l2, r2)
    // MINUS scopes per graph through the SHARED ?g column. A left side
    // that leaves it unbound (VALUES) would be diminished by right
    // rows from ALL graphs — and joining the graph frame in is no fix:
    // that puts ?g into the §8.3 domain-disjointness decision, so a
    // left row sharing only UNDEF/no variables with the right (which
    // the spec KEEPS) would be removed on a graph-only compat.
    // Enumeration stays the correct plan for this rare shape. The
    // mirrored shape (?g-free RIGHT side) threads fine: its rows are
    // graph-independent, so compat over the remaining shared vars
    // makes the same decision for every graph.
    case Minus(l, r) => for {
      l2 <- threadGraphVar(gn, l); r2 <- threadGraphVar(gn, r)
      m <- if (allVars(r2).contains(gn) && !allVars(l2).contains(gn)) None
           else Some(Minus(l2, r2))
    } yield m
    case Bind(in, e, as) => for {
      in1 <- threadGraphVar(gn, in)
      in2 = bindGn(gn, in1, vexprContainsExists(e))
      e2 <- threadGraphInVExpr(gn, e)
    } yield Bind(in2, e2, as)
    // property paths thread as GraphPath: the closure/k-hop machinery
    // runs over graph-ENCODED node ids (g⊕node) of the quad relation,
    // so per-graph reachability is one distributed computation — the
    // pre-r16 per-named-graph plan loop is gone
    case path @ (_: PathPlus | _: PathStar | _: PathZeroOne |
                 _: PathRange | _: PathSeq | _: PathSeqMod |
                 _: PathSeqRange | _: PathAlt | _: NegPath) =>
      Some(GraphPath(gn, path))
    // inline VALUES rows are graph-independent constants: under a
    // conjunctive Join with a ?g-binding side they pass unchanged and
    // ?g rides from that side; every composition where the raw rows
    // would leave ?g unbound (UNION branch, MINUS/OPTIONAL left
    // operand, EXISTS input) wraps them with the graph-name frame at
    // that composition site (bindGn)
    case vp: ValuesPattern => Some(vp)
    // a sub-SELECT threads when adding ?g to its projection/grouping
    // preserves per-graph semantics: no LIMIT/OFFSET (those are
    // per-graph under enumeration), no GLOBAL aggregate (which must
    // yield a row even for match-free graphs), no dataset clause, and
    // no variable named ?g already inside (a different variable —
    // in-scope collision). Everything else — grouped aggregates,
    // DISTINCT, plain projections — evaluates per graph by carrying
    // ?g as one more grouping/projection column.
    case SubSelect(q)
      if q.limit < 0 && q.offset == 0 &&
        q.fromGraphs.isEmpty && q.fromNamed.isEmpty &&
        !(q.aggregates.nonEmpty && q.groupBy.isEmpty) &&
        !allVars(q.where).contains(gn) && !q.projection.contains(gn) =>
      threadGraphVar(gn, q.where).filter(w => allVars(w).contains(gn))
        .map { w2 =>
          SubSelect(q.copy(
            where = w2,
            projection =
              if (q.projection.isEmpty && q.aggregates.isEmpty) Seq.empty
              else q.projection :+ gn,
            groupBy =
              if (q.aggregates.nonEmpty) q.groupBy :+ gn else q.groupBy))
        }
    // LIMIT/OFFSET with a deterministic ORDER BY: the cut is PER
    // GRAPH — thread the limit-less query and apply the ordered cut
    // as a window partitioned on ?g (PerGraphLimited). An UNPROJECTED
    // sort key (r18) threads by LIFTING it into the inner projection
    // for the window's sort and dropping it after the cut — sound
    // when the key resolves in the where frame and no DISTINCT or
    // aggregate projection wall sits between the sort and the key
    // (under DISTINCT §18.2.5.3 requires projected keys anyway; under
    // grouping a sort key must be a grouping key/alias, i.e.
    // projected). An UN-ordered LIMIT/OFFSET (r17) threads too:
    // §18.2.5.3 leaves the slice's choice unconstrained without ORDER
    // BY, so ANY n rows per graph are a correct answer — the window
    // sorts on the full projection, a deterministic (and therefore
    // reproducible) instantiation of that freedom.
    // GROUPED aggregates under a slice thread the same way (r17,
    // top-k-per-graph): ?g joins the grouping keys, the grouped fold
    // runs once, the cut windows on ?g — match-free graphs correctly
    // yield nothing (grouped aggregation of an empty multiset has no
    // groups, unlike the global fill case below). GLOBAL aggregates
    // under a slice stay on the fallback: their cut interacts with
    // the §18.5 one-row-per-graph fill.
    case SubSelect(q)
      if (q.limit >= 0 || q.offset > 0) &&
        (q.projection.nonEmpty || q.aggregates.isEmpty) &&
        (q.aggregates.isEmpty || q.groupBy.nonEmpty) &&
        q.fromGraphs.isEmpty && q.fromNamed.isEmpty &&
        !allVars(q.where).contains(gn) && !q.projection.contains(gn) && {
          // SELECT * projects every where-var except non-distinguished
          // blanks (§4.1.4) and the reserved internals (lifted sort
          // keys / aggregates / HAVING helpers — run()'s own star
          // convention) — a statically-known set, so the star form
          // threads like an explicit projection
          val proj = if (q.projection.nonEmpty) q.projection
            else starProjection(q.where)
          val unproj = q.orderBy.map(_._1).filterNot(proj.contains).distinct
          proj.nonEmpty && (unproj.isEmpty ||
            (q.aggregates.isEmpty && !q.distinct &&
              unproj.forall(allVars(q.where).contains)))
        } =>
      threadGraphVar(gn, q.where).filter(w => allVars(w).contains(gn))
        .map { w2 =>
          val proj = if (q.projection.nonEmpty) q.projection
            else starProjection(q.where)
          val unproj = q.orderBy.map(_._1).filterNot(proj.contains).distinct
          PerGraphLimited(gn,
            q.copy(where = w2, projection = (proj ++ unproj) :+ gn,
              groupBy =
                if (q.aggregates.nonEmpty) q.groupBy :+ gn else q.groupBy,
              orderBy =
                if (q.orderBy.nonEmpty) q.orderBy
                else proj.map(_ -> true)),
            dropAfterCut = unproj)
        }
    // GLOBAL aggregate (no GROUP BY): §18.5 gives EVERY named graph a
    // row — match-free graphs included — so the threaded groupBy-?g
    // result must right-join the graph-name set and fill empty-group
    // values (PerGraphGlobalAgg). HAVING threads too: per §18.5.1
    // Group((), Ω) = {() → Ω} even for empty Ω, so the filled row of
    // a match-free graph IS a group — the compile branch applies
    // HAVING after the fill. ORDER BY threads by DROPPING (r17): a
    // subquery's solution order is unobservable through the enclosing
    // join without a slice (§18.2.5.3) — and the slice threads away
    // too: the per-graph solution sequence has EXACTLY one row (≤1
    // after HAVING), so OFFSET 0 + LIMIT ≥ 1 keeps whatever survives
    // and the sliced form answers identically to the slice-free one.
    // Only the degenerate empties (OFFSET ≥ 1, LIMIT 0) stay on the
    // fallback.
    case SubSelect(q)
      if q.aggregates.nonEmpty && q.groupBy.isEmpty &&
        (q.limit < 0 || q.limit >= 1) && q.offset == 0 &&
        q.fromGraphs.isEmpty && q.fromNamed.isEmpty &&
        !allVars(q.where).contains(gn) && !q.projection.contains(gn) =>
      threadGraphVar(gn, q.where).filter(w => allVars(w).contains(gn))
        .map(w2 => PerGraphGlobalAgg(gn, q.copy(
          where = w2,
          projection = q.projection :+ gn,
          groupBy = Seq(gn),
          orderBy = Seq.empty, limit = -1L, offset = 0L)))
    case gb: GraphBgp => Some(gb)
    case gg: GraphGroup => Some(gg)
    case _ => None
  }

  /** The statically-known SELECT * variable set of a pattern: every
    * where-var minus non-distinguished blanks (§4.1.4) and the
    * reserved internal namespaces (lifted sort keys, §18.2.4.4
    * aggregates, HAVING helpers) — run()'s star convention, sorted
    * for deterministic synthesized orderings.
    */
  private def starProjection(w: Pattern): Seq[String] =
    allVars(w).filterNot(n => n.startsWith("__bn") ||
      n.startsWith("__ord") || n.startsWith("__sagg") ||
      n.startsWith("__hv")).toSeq.sorted

  /** Force a threaded operand to bind the graph variable when its
    * composition requires it (`need`): a side that already binds `?g`
    * passes through; a graph-independent side (inline VALUES, a
    * var-free group) joins the distinct graph-name frame so each of
    * its rows carries every named graph — §13.3's per-graph solving
    * for branches the column threading alone can't reach.
    */
  private def bindGn(gn: String, p: Pattern, need: Boolean): Pattern =
    if (!need || allVars(p).contains(gn)) p else Join(GraphNames(gn), p)

  private def sequenceOpts[A](xs: Seq[Option[A]]): Option[Seq[A]] =
    if (xs.forall(_.isDefined)) Some(xs.map(_.get)) else None

  /** Does a BIND expression carry an EXISTS anywhere (IF conditions,
    * nested function arguments)? Drives the graph-threading guard.
    */
  private def vexprContainsExists(e: VExpr): Boolean = e match {
    case VIf(c, t, f) =>
      containsExists(c) || vexprContainsExists(t) || vexprContainsExists(f)
    case FnCall(_, as) => as.exists(vexprContainsExists)
    case Arith(_, l, r) => vexprContainsExists(l) || vexprContainsExists(r)
    case _ => false
  }

  /** Thread the graph variable into every EXISTS / NOT EXISTS body of
    * a filter expression (the §13.3 active graph reaches into EXISTS
    * evaluation). Non-EXISTS leaves pass through untouched.
    */
  private def threadGraphInExpr(gn: String, e: Expr): Option[Expr] = e match {
    case Exists(p) => threadGraphVar(gn, p).map(Exists)
    case NotExists(p) => threadGraphVar(gn, p).map(NotExists)
    case Not(x) => threadGraphInExpr(gn, x).map(Not)
    case And(a, b) => for {
      a2 <- threadGraphInExpr(gn, a); b2 <- threadGraphInExpr(gn, b)
    } yield And(a2, b2)
    case Or(a, b) => for {
      a2 <- threadGraphInExpr(gn, a); b2 <- threadGraphInExpr(gn, b)
    } yield Or(a2, b2)
    case other => Some(other)
  }

  /** The VExpr twin of [[threadGraphInExpr]]: BIND(IF(EXISTS{…},…))
    * bodies also evaluate against the active graph. Before r16 a
    * threaded Bind kept its EXISTS body compiling against the DEFAULT
    * graph — a silent active-graph divergence this rewrite closes.
    */
  private def threadGraphInVExpr(gn: String, e: VExpr): Option[VExpr] = e match {
    case VIf(c, t, f) => for {
      c2 <- threadGraphInExpr(gn, c)
      t2 <- threadGraphInVExpr(gn, t)
      f2 <- threadGraphInVExpr(gn, f)
    } yield VIf(c2, t2, f2)
    case FnCall(fn, as) =>
      sequenceOpts(as.map(threadGraphInVExpr(gn, _))).map(FnCall(fn, _))
    case Arith(op, l, r) => for {
      l2 <- threadGraphInVExpr(gn, l); r2 <- threadGraphInVExpr(gn, r)
    } yield Arith(op, l2, r2)
    case other => Some(other)
  }

  /** GRAPH-scoped BGP over the quad relation: a constant graph prunes
    * to its slice BEFORE any pattern filter (at cluster scale the quad
    * table is partitioned by graph, so this is partition pruning); a
    * variable graph rides each pattern as an extra emitted column and
    * the joins align it.
    */
  private def compileGraphBgp(quads: DataFrame, g: Term,
                              ps: Seq[TriplePattern]): DataFrame = g match {
    case Iri(gv) => compileBgp(quads.filter(col("g") === gv).drop("g"), ps)
    case Var(gn) =>
      if (ps.isEmpty) quads.select(col("g").as(gn)).distinct()
      else orderPatterns(quads, ps).map(patternDf(quads, _, Some(gn)))
        .reduceLeft(joinOnVars(_, _))
    case _ =>
      throw new IllegalArgumentException("literal graph name")
  }

  /** Scalar filter → Column predicate (numeric when the literal and
    * the binding are numeric, lexical otherwise).
    */
  /** Variables a VALUE expression needs in scope to evaluate without
    * a type error. COALESCE contributes nothing — a missing argument
    * is simply unbound and falls through to the next (§17.4.1.3).
    */
  private def vexprVars(e: VExpr): Set[String] = e match {
    case VVar(n) => Set(n)
    case Arith(_, l, r) => vexprVars(l) ++ vexprVars(r)
    case FnCall("COALESCE", _) => Set.empty
    case FnCall(_, as) => as.flatMap(vexprVars).toSet
    // IF evaluates only the CHOSEN branch (§17.4.1.2), so an
    // out-of-scope var in the other branch must not statically
    // unbind the whole expression — the defaulting idiom
    // BIND(IF(BOUND(?x), ?x, "default") AS ?y) is exactly that. The
    // condition too contributes nothing here: its compile runs
    // through [[guardScope]] (BOUND of a missing var is FALSE, other
    // missing-var leaves are per-row type errors selecting neither
    // branch), and the branch compiles are null-safe on missing
    // columns — so the error surfaces per-row, as the spec demands,
    // not statically for all rows.
    case VIf(_, _, _) => Set.empty
    case _ => Set.empty
  }

  /** [[exprVars]] through And/Or/Not and BOUND — the full variable
    * footprint of a filter expression, used to decide whether an
    * OPTIONAL body's filter references outer (LHS) vars and must
    * lift into the LeftJoin condition (§8.1.1).
    */
  private def deepExprVars(e: Expr): Set[String] = e match {
    case And(a, b) => deepExprVars(a) ++ deepExprVars(b)
    case Or(a, b) => deepExprVars(a) ++ deepExprVars(b)
    case Not(x) => deepExprVars(x)
    case Bound(v) => Set(v.name)
    case other => exprVars(other)
  }

  /** LeftJoin with a CONDITION — LeftJoin(P1, P2, F), the algebra of
    * `P1 OPTIONAL { P2 FILTER F }` when F reads P1's vars: matched
    * solutions are the compat inner join filtered by F over the
    * MERGED frame; left rows with NO surviving match union back bare
    * (right-only columns typed-null), preserving bag semantics via a
    * per-row id. The id side of the anti join is narrow and the left
    * input is checkpointed once (the id must be stable across its
    * two uses), so this stays two keyed joins — no nested loop, no
    * row-at-a-time subquery, skew no worse than the inner join's.
    */
  private def leftJoinWithCondition(ldf0: DataFrame, rdf: DataFrame,
                                    lRisky: Set[String], rRisky: Set[String],
                                    conds: Seq[Expr]): DataFrame = {
    val idc = "__lj_id"
    val ldf = Checkpoints.tracked(
      ldf0.withColumn(idc, monotonically_increasing_id()))
    val joined = compatInnerJoin(ldf, rdf, lRisky, rRisky)
    val matched = conds.foldLeft(joined)((df, e) =>
      df.filter(exprColumn(df, guardScope(df, e))))
    val bare = ldf.join(matched.select(col(idc)), Seq(idc), "left_anti")
    val allCols =
      (matched.columns.toSeq ++ bare.columns.toSeq.diff(matched.columns.toSeq)).distinct
    // bare rows fill right-only LEXICAL vars with the engine's "N/A"
    // sentinel (the compatLeftJoin convention — Bound/serializers/
    // oracles all read it); companions stay typed null
    val optOnly = rdf.columns.filterNot(isCompanion).diff(ldf0.columns).toSet
    def pad(df: DataFrame): DataFrame =
      df.select(allCols.map(c =>
        if (df.columns.contains(c)) col(c)
        else if (optOnly.contains(c)) {
          // TYPED right-only vars (numeric BINDs) stay null-typed —
          // the sentinel string would force a union-wide re-type
          val dt = matched.schema.fields.collectFirst {
            case f if f.name == c => f.dataType
          }.getOrElse(org.apache.spark.sql.types.StringType)
          if (dt == org.apache.spark.sql.types.StringType) lit("N/A").as(c)
          else lit(null).cast(dt).as(c)
        }
        else lit(null).cast(
          if (isNumCol(c)) "double"
          else if (isIriCol(c)) "boolean" else "string").as(c)): _*)
    pad(matched).unionByName(pad(bare)).drop(idc)
  }

  /** The variables a FILTER leaf reads. BOUND and the composite /
    * scope-owning forms (And/Or/Not, EXISTS bodies, HAVING aggregate
    * forms, markers) are handled by [[guardScope]] directly.
    */
  private def exprVars(e: Expr): Set[String] = e match {
    case Cmp(_, v, _) => Set(v.name)
    case StrFilter(_, v, _, _) => Set(v.name)
    case ExprCmp(_, ex, _) => vexprVars(ex)
    case CmpVV(_, l, r) => vexprVars(l) ++ vexprVars(r)
    case LangCmp(_, v, _) => Set(v.name)
    case LangMatches(v, _) => Set(v.name)
    case In(v, _, _) => Set(v.name)
    case IsIri(v) => Set(v.name)
    case IsLiteral(v) => Set(v.name)
    case IsBlank(v) => Set(v.name)
    case IsNumeric(v) => Set(v.name)
    case SameTerm(a, b) => Set(a.name, b.name)
    case _ => Set.empty
  }

  /** §17.2 filter-scope guard: a FILTER may legally reference a
    * variable the pattern never binds. Rewrite such leaves before
    * compilation — BOUND of an out-of-scope var is plain FALSE, any
    * other leaf is a type error ([[Ast.TypeErr]], compiled as SQL
    * null) — instead of letting `col(missing)` crash analysis.
    */
  private def guardScope(df: DataFrame, e: Expr): Expr = e match {
    case And(l, r) => And(guardScope(df, l), guardScope(df, r))
    case Or(l, r) => Or(guardScope(df, l), guardScope(df, r))
    case Not(x) => Not(guardScope(df, x))
    case Bound(v) if !df.columns.contains(v.name) => ConstBool(false)
    case leaf if exprVars(leaf).exists(!df.columns.contains(_)) => TypeErr
    case other => other
  }

  private def exprColumn(df: DataFrame, e: Expr): Column = e match {
    case TypeErr => lit(null).cast("boolean")
    case ConstBool(b) => lit(b)
    case Cmp(op, v, value) =>
      val hasNum = df.columns.contains(numCol(v.name))
      // ordering comparison of a numeric literal against a binding
      // that can never be numeric (subject/predicate/path position):
      // SPARQL raises a type error, which a FILTER treats as false —
      // a lexicographic fallback would silently pass IRI strings
      val orderingOp = op match {
        case Lt | Le | Gt | Ge => true
        case _ => false
      }
      if (value.num.isDefined && !hasNum && orderingOp) lit(false)
      else {
        val useNum = value.num.isDefined && hasNum
        if (useNum) applyCmp(op, col(numCol(v.name)), lit(value.num.get))
        else if (dtShaped(value.lexical))
          // typed xsd:dateTime comparison (§17.3 op:dateTime-*): a
          // date-shaped binding compares on the TIMELINE (zone
          // offsets normalize), so "12:00+02:00" = "10:00Z"; a
          // non-date binding keeps the engine's lexical compare
          when(dtInstant(col(v.name)).isNotNull,
            applyCmp(op, dtInstant(col(v.name)),
              dtInstant(lit(value.lexical))))
            .otherwise(applyCmp(op, col(v.name), lit(value.lexical)))
        else applyCmp(op, col(v.name), lit(value.lexical))
      }
    case ExprCmp(op, e, value) =>
      // typed evaluation of the computed side; a numeric/string
      // mismatch against the literal is a type error → false
      if (isNumericVExpr(e) && value.num.isDefined)
        applyCmp(op, numVExpr(df, e), lit(value.num.get))
      else if (!isNumericVExpr(e) && value.num.isEmpty)
        applyCmp(op, strVExpr(df, e), lit(value.lexical))
      else lit(false)
    case LangCmp(eq, v, tag) =>
      // lang() of a non-literal binding is a SPARQL type error, which
      // FILTER treats as false; a plain literal's language is "".
      // BOTH sides lowercase: RDF 1.1 §3.3 defines the term's
      // language component over the lowercase value space (@EN and
      // @en are one term), and the triple-pattern tagged-literal
      // match (patternDf) already compares that way — so
      // lang(?v) = "en-US" matches data tagged @en-US (BCP47's
      // canonical casing) instead of silently returning zero rows.
      if (!df.columns.contains(langCol(v.name))) lit(false)
      else {
        val l = lower(coalesce(col(langCol(v.name)), lit("")))
        val t = tag.toLowerCase
        if (eq) l === t else l =!= t
      }
    case LangMatches(v, range) =>
      // RFC 4647 basic filtering, case-insensitive: "*" passes every
      // TAGGED literal; "en" passes "en" and "en-US"-style extensions
      if (!df.columns.contains(langCol(v.name))) lit(false)
      else {
        val l = lower(coalesce(col(langCol(v.name)), lit("")))
        if (range == "*") l =!= ""
        else {
          val r = range.toLowerCase
          l === r || l.startsWith(r + "-")
        }
      }
    case StrFilter(op, v, arg, flags) =>
      // string builtins over the lexical form; an unbound variable is
      // a type error, which FILTER treats as false
      if (!df.columns.contains(v.name)) lit(false)
      else op match {
        case RegexMatch =>
          // XPath flags → Java-regex inline flags ((?i), (?s)); both
          // engines' regex dialects honor the embedded form
          val fl = flags.filter("is".contains(_))
          col(v.name).rlike(if (fl.isEmpty) arg else s"(?$fl)$arg")
        case StrStarts => col(v.name).startsWith(arg)
        case StrEnds => col(v.name).endsWith(arg)
        case StrContains => col(v.name).contains(arg)
      }
    case In(v, values, neg) =>
      // value-equality against each constant; numeric constants use
      // the companion when present. An out-of-scope variable is a
      // type error → false (for IN and NOT IN alike, per SPARQL)
      if (!df.columns.contains(v.name)) lit(false)
      else {
        val hasNum = df.columns.contains(numCol(v.name))
        val tests = values.map {
          // IRI equality is TERM equality: where the binding carries
          // an is-IRI companion, a plain literal with the same
          // lexical form must not match (s/p-position bindings are
          // resource terms by construction — lexical compare suffices)
          case Iri(x) if df.columns.contains(iriCol(v.name)) =>
            col(v.name) === x && coalesce(col(iriCol(v.name)), lit(false))
          case Iri(x) => col(v.name) === x
          case Lit(_, Some(n), _) if hasNum => col(numCol(v.name)) === n
          case l @ Lit(lex, _, _) if l.lang.isDefined &&
              df.columns.contains(langCol(v.name)) =>
            col(v.name) === lex &&
              lower(col(langCol(v.name))) === l.lang.get.toLowerCase
          case Lit(lex, _, _) => col(v.name) === lex
          case _ =>
            throw new IllegalArgumentException("IN values must be constants")
        }
        // §17.4.1.9: IN with the empty list is plain false (so NOT
        // IN () is true for every in-scope binding)
        val c = if (tests.isEmpty) lit(false) else tests.reduce(_ || _)
        if (neg) !c else c
      }
    case Bound(v) =>
      // unmatched OPTIONAL vars hold the reference's "N/A" sentinel
      // (SparqlToGremlinCompiler.java:122), so bound = in scope, not
      // null, and not the sentinel
      if (!df.columns.contains(v.name)) lit(false)
      else !unboundCol(df, v.name)
    case IsIri(v) =>
      // object position: the is-IRI companion (null ⇒ unbound ⇒ type
      // error ⇒ false); subject/predicate position: a resource term
      // by construction — IRI unless a blank node
      if (df.columns.contains(iriCol(v.name)))
        coalesce(col(iriCol(v.name)) && !col(v.name).startsWith("_:"), lit(false))
      else if (df.columns.contains(v.name)) !col(v.name).startsWith("_:")
      else lit(false)
    case IsLiteral(v) =>
      if (df.columns.contains(iriCol(v.name)))
        coalesce(!col(iriCol(v.name)), lit(false))
      else lit(false) // s/p bindings are never literals; unbound → false
    case IsBlank(v) =>
      if (!df.columns.contains(v.name)) lit(false)
      else if (df.columns.contains(iriCol(v.name)))
        coalesce(col(iriCol(v.name)) && col(v.name).startsWith("_:"), lit(false))
      else col(v.name).startsWith("_:")
    case CmpVV(op, l, r) =>
      // SPARQL value comparison with runtime type dispatch: numeric
      // when BOTH sides hold numeric values on this row (via the
      // companions), lexical when NEITHER does — a static choice
      // would null-compare string rows of a sometimes-numeric
      // variable. Mixed rows (number vs IRI/plain string) are a
      // SPARQL type error: no branch matches, the comparison yields
      // null, the solution drops — a lexical fallback would wrongly
      // keep rows like "5" < "nat:1".
      val (ln, rn) = (numVExpr(df, l), numVExpr(df, r))
      val (ld, rd) = (dtInstant(strVExpr(df, l)), dtInstant(strVExpr(df, r)))
      when(ln.isNotNull && rn.isNotNull, applyCmp(op, ln, rn))
        // both date-shaped → timeline comparison (zone-normalized);
        // a date against a plain string stays on the lexical branch,
        // the engine's existing permissive posture
        .when(ld.isNotNull && rd.isNotNull, applyCmp(op, ld, rd))
        .when(ln.isNull && rn.isNull,
          applyCmp(op, strVExpr(df, l), strVExpr(df, r)))
    case IsNumeric(v) =>
      if (df.columns.contains(numCol(v.name))) col(numCol(v.name)).isNotNull
      else lit(false)
    case SameTerm(a, b) =>
      // term identity: lexical AND kind AND language, all null-safe.
      // s/p-position bindings are resource terms (is-IRI unless a
      // blank-node lexical, which the lexical compare distinguishes).
      if (!df.columns.contains(a.name) || !df.columns.contains(b.name)) lit(false)
      else {
        def kind(v: Var): Column =
          if (df.columns.contains(iriCol(v.name)))
            coalesce(col(iriCol(v.name)), lit(true)) else lit(true)
        def lang(v: Var): Column =
          if (df.columns.contains(langCol(v.name))) col(langCol(v.name))
          else lit(null).cast("string")
        col(a.name) === col(b.name) && kind(a) === kind(b) &&
          (lang(a) <=> lang(b))
      }
    case Not(e) => !exprColumn(df, e)
    case And(a, b) => exprColumn(df, a) && exprColumn(df, b)
    case Or(a, b) => exprColumn(df, a) || exprColumn(df, b)
    // a bound EXISTS marker: matched rows carry true, unmatched null
    case ExistsFlag(name, neg) =>
      val v = coalesce(col(name), lit(false))
      if (neg) !v else v
    case _: Exists | _: NotExists =>
      throw new IllegalArgumentException(
        "internal: nested EXISTS must be rewritten to markers first")
    case _: HavingAggCmp =>
      throw new IllegalStateException(
        "internal: a HAVING aggregate comparison reached FILTER " +
          "compilation without being rewritten to its projection alias")
  }

  private def containsExists(e: Expr): Boolean = e match {
    case _: Exists | _: NotExists => true
    case Not(x) => containsExists(x)
    case And(a, b) => containsExists(a) || containsExists(b)
    case Or(a, b) => containsExists(a) || containsExists(b)
    case _ => false
  }

  /** §8.1.1 substitution for correlated EXISTS / NOT EXISTS bodies:
    * a FILTER inside the body may reference a variable bound ONLY by
    * the outer group (the body's patterns never bind it). The spec
    * evaluates the body once per outer solution with that binding
    * substituted; relationally, splice the outer frame's DISTINCT
    * bindings of exactly the correlated variables into the filter's
    * input (a [[Ast.PreBound]] leaf joined in), so the filter
    * evaluates against each outer value and the correlated columns
    * ride the body's frame — keying the semi/anti/flag join back to
    * the outer rows. Without this the §17.2 scope guard degrades the
    * filter to a constant type error, making EXISTS constant-false.
    *
    * Scale shape: the spliced relation is the outer distinct
    * projection onto the few correlated vars (+ companions) — value-
    * domain-sized, joined (or theta-filtered by Catalyst when
    * disjoint) before the flag join; never a row-at-a-time subquery.
    * Scope walls respected: MINUS right sides and sub-SELECTs are
    * not substituted into (§8.3 MINUS does not see outer bindings —
    * the normative MINUS/NOT-EXISTS divergence).
    */
  private def substituteOuter(outer: DataFrame, p: Pattern): Pattern = {
    val outerVars = outer.columns.filterNot(isCompanion).toSet
    def refVars(e: Expr): Set[String] = e match {
      case And(a, b) => refVars(a) ++ refVars(b)
      case Or(a, b) => refVars(a) ++ refVars(b)
      case Not(x) => refVars(x)
      case Bound(v) => Set(v.name)
      case leaf => exprVars(leaf)
    }
    def walk(p: Pattern): Pattern = p match {
      case Filter(exprs, input) =>
        val in2 = walk(input)
        val need = exprs.flatMap(refVars).toSet
          .diff(allVars(in2)).intersect(outerVars)
        if (need.isEmpty) Filter(exprs, in2)
        else {
          val vs = need.toSeq.sorted
          val cols = vs.flatMap(v => Seq(v, numCol(v), langCol(v), iriCol(v))
            .filter(outer.columns.contains))
          Filter(exprs, Join(
            PreBound(outer.select(cols.map(col): _*).distinct(), vs), in2))
        }
      case LeftJoin(l, r) => LeftJoin(walk(l), walk(r))
      case Union(l, r) => Union(walk(l), walk(r))
      case Join(l, r) => Join(walk(l), walk(r))
      case Minus(l, r) => Minus(walk(l), r)
      case Bind(in, e, as) => Bind(walk(in), e, as)
      case GraphGroup(g, in) => GraphGroup(g, walk(in))
      case other => other
    }
    walk(p)
  }

  /** W3C-compatible EXISTS / NOT EXISTS join (§8.1.1 substitution
    * composed with §6.2 compatibility): an outer solution whose
    * SHARED variable is unbound leaves that variable FREE in the
    * substituted body — it must not key the semi/anti join, or an
    * OPTIONAL-unmatched outer row can never see a body match. Left
    * rows mask-split over the possibly-unbound shared vars (a static
    * set, almost always empty → the single plain semi/anti join);
    * each slice joins on its bound subset. Past the mask budget, ONE
    * null-tolerant theta semi/anti — the same escape hatch as the
    * other compat operators.
    */
  private def compatExists(ldf0: DataFrame, sub0: DataFrame,
                           lRisky: Set[String], neg: Boolean): DataFrame = {
    val shared = ldf0.columns.intersect(sub0.columns).filterNot(isCompanion).toSeq
    val risky = shared.filter(lRisky)
    val jt = if (neg) "left_anti" else "left_semi"
    if (risky.isEmpty) return joinOnVars(ldf0, sub0, jt)
    if (risky.size > maskBudget) {
      val rSlim = sub0.select(shared.map(col): _*).distinct()
      val r2 = rPrefixed(rSlim)
      val compat = shared.map { v =>
        if (risky.contains(v)) unboundCol(ldf0, v) || col(v) === rCol(v)
        else col(v) === rCol(v)
      }.reduce(_ && _)
      return ldf0.join(r2, compat, jt)
    }
    // every slice re-reads both inputs — checkpoint once
    val ldf = Checkpoints.tracked(ldf0)
    val sub = Checkpoints.tracked(sub0)
    val slices = unboundMaskSlices(ldf, risky).map { case (unb, slice) =>
      val out = joinOnVars(slice, sub, jt)
      unb.foldLeft(out)((d, v) => d.withColumn(v, lit("N/A")))
    }
    padUnion(slices)
  }

  /** Rewrite every EXISTS / NOT EXISTS inside a compound filter
    * expression to an [[ExistsFlag]] marker, binding each marker with
    * one flag left-join: the body compiles once, projects to its
    * shared variables, distincts (so the join can't duplicate
    * solution rows), and left-joins a constant-true flag. A body
    * sharing NO variables is the spec's query-constant case — a
    * single-row flag joined on true, left rows always survive.
    */
  private def bindExistsMarkers(triples: DataFrame, quads: Option[DataFrame],
                                df0: DataFrame, e0: Expr,
                                lRisky: Set[String] = Set.empty)
      : (DataFrame, Expr, Seq[String]) = {
    var df = df0
    var markers = Vector.empty[String]
    def bind(p: Pattern, neg: Boolean): Expr = {
      val name = s"__exists_${markers.size}"
      val sub = compilePattern(triples, quads, substituteOuter(df0, p))
      val shared = df0.columns.intersect(sub.columns).filterNot(isCompanion)
      val risky = shared.filter(lRisky)
      if (risky.isEmpty) {
        val flagged =
          if (shared.isEmpty) sub.limit(1).select(lit(true).as(name))
          else sub.select(shared.map(col).toSeq: _*).distinct()
            .withColumn(name, lit(true))
        df = joinOnVars(df, flagged, "left_outer")
      } else {
        // possibly-unbound shared vars (outer OPTIONAL bindings): a
        // left row whose var is unbound leaves it FREE in the body —
        // mask-split the left and flag-join each slice on its BOUND
        // subset, exactly the compatExists shape with a flag column
        val subT = Checkpoints.tracked(sub)
        val slices = unboundMaskSlices(Checkpoints.tracked(df), risky.toSeq)
          .map { case (unb, slice) =>
            val keys = slice.columns.intersect(subT.columns)
              .filterNot(isCompanion).toSeq
            val flagged =
              if (keys.isEmpty) subT.limit(1).select(lit(true).as(name))
              else subT.select(keys.map(col): _*).distinct()
                .withColumn(name, lit(true))
            val joined = joinOnVars(slice, flagged, "left_outer")
            unb.foldLeft(joined)((d, v) => d.withColumn(v, lit("N/A")))
          }
        df = padUnion(slices)
      }
      markers :+= name
      ExistsFlag(name, neg)
    }
    def rewrite(e: Expr): Expr = e match {
      case Exists(p) => bind(p, neg = false)
      case NotExists(p) => bind(p, neg = true)
      case Not(x) => Not(rewrite(x))
      case And(a, b) => And(rewrite(a), rewrite(b))
      case Or(a, b) => Or(rewrite(a), rewrite(b))
      case other => other
    }
    val e2 = rewrite(e0)
    (df, e2, markers)
  }

  private def applyCmp(op: CmpOp, c: Column, l: Column): Column = op match {
    case Eq => c === l
    case Ne => c =!= l
    case Lt => c < l
    case Le => c <= l
    case Gt => c > l
    case Ge => c >= l
  }

  /** Numeric evaluation of a BIND expression. A non-numeric operand is
    * a SPARQL type error, which leaves the bound variable unbound
    * (null) for that solution rather than failing the query.
    */
  private def numVExpr(df: DataFrame, e: VExpr): Column = e match {
    case VVar(n) =>
      if (df.columns.contains(numCol(n))) col(numCol(n))
      else lit(null).cast("double")
    case VNum(d) => lit(d)
    case VStr(_) => lit(null).cast("double")
    case Arith(op, l, r) =>
      val (a, b) = (numVExpr(df, l), numVExpr(df, r))
      op match {
        case AddOp => a + b
        case SubOp => a - b
        case MulOp => a * b
        case DivOp => a / b
      }
    case FnCall("STRLEN", Seq(a)) => length(strVExpr(df, a)).cast("double")
    // XPath fn:numeric-* semantics. ROUND resolves ties toward +∞
    // (xsd:round: "the one whose value is greater"), which is exactly
    // floor(x + 0.5) — and that formulation is engine-portable, unlike
    // HALF_UP rounding, which differs on negative ties
    case FnCall("ABS", Seq(a)) => abs(numVExpr(df, a))
    case FnCall("CEIL", Seq(a)) => ceil(numVExpr(df, a)).cast("double")
    case FnCall("FLOOR", Seq(a)) => floor(numVExpr(df, a)).cast("double")
    case FnCall("ROUND", Seq(a)) =>
      floor(numVExpr(df, a) + lit(0.5)).cast("double")
    // W3C §17.4.5 date/time component accessors over the LEXICAL form
    // (xsd:date "1998-10-03" or xsd:dateTime with 'T' or ' '
    // separator): pure regex extraction — engine-portable, session-
    // timezone-free, and a non-date lexical (or a time accessor on a
    // date-only literal) is a type error → null → unbound, exactly
    // the empty-group regexp_extract + cast behaviour
    case FnCall("YEAR", Seq(a)) => dtComponent(df, a, 1)
    case FnCall("MONTH", Seq(a)) => dtComponent(df, a, 2)
    case FnCall("DAY", Seq(a)) => dtComponent(df, a, 3)
    case FnCall("HOURS", Seq(a)) => dtComponent(df, a, 4)
    case FnCall("MINUTES", Seq(a)) => dtComponent(df, a, 5)
    case FnCall("SECONDS", Seq(a)) => dtComponent(df, a, 6)
    case VIf(c, t, f) =>
      // §17.4.1.2: IF with an ERROR condition is an error (unbound)
      // — two positive-match arms instead of otherwise, so a null
      // condition (type error / out-of-scope guard) selects NEITHER
      val cc = exprColumn(df, guardScope(df, c))
      when(cc, numVExpr(df, t)).when(!cc, numVExpr(df, f))
    case FnCall(fn, _) =>
      throw new IllegalArgumentException(s"$fn is not numeric in BIND")
    case _: VAgg =>
      // the select builder lifts every legal VAgg (§18.2.4.4) into a
      // hidden inner aggregate — one surviving to evaluation sits in
      // BIND/FILTER position, where aggregates are illegal
      throw new IllegalArgumentException(
        "aggregate calls are only allowed in SELECT expressions, HAVING, and ORDER BY")
  }

  /** xsd:date / xsd:dateTime lexical shape: groups 1-3 are the date
    * components, 4-6 the optional time components (SECONDS keeps the
    * fractional part, per the spec's xsd:decimal return type).
    */
  private val dtLexical =
    "^(-?\\d{4,})-(\\d{2})-(\\d{2})(?:[T ](\\d{2}):(\\d{2}):(\\d{2}(?:\\.\\d+)?))?"

  /** Timezone suffix of a dateTime lexical: Z or ±HH:MM. */
  private val tzLexical = "(Z|[+-]\\d{2}:\\d{2})$"

  /** Full-anchored xsd:date / xsd:dateTime lexical (optional time,
    * optional zone) — the guard for typed timeline comparison. A
    * prefix match is not enough here: "1998-10-03garbage" must stay
    * a plain string, not half-parse as a date.
    */
  private val dtShapeFull =
    "^\\d{4,}-\\d{2}-\\d{2}([T ]\\d{2}:\\d{2}:\\d{2}(\\.\\d+)?)?(Z|[+-]\\d{2}:\\d{2})?$"

  private def dtShaped(lex: String): Boolean = lex.matches(dtShapeFull)

  /** Timeline value of a dateTime lexical: UTC epoch seconds
    * (fractional), null when the string isn't a full date/dateTime
    * shape. Zone offsets normalize per XSD §3.2.7.3; a zoneless form
    * reads in the session timezone (UTC everywhere in this engine).
    */
  private def dtInstant(c: Column): Column =
    when(c.rlike(dtShapeFull), c.try_cast("timestamp").cast("double"))

  /** ORDER BY key that sorts dateTime lexicals as instants while
    * leaving every other string untouched: date-shaped values
    * canonicalize to their UTC serialization (which sorts correctly
    * both among dates and against other digit-led strings), the rest
    * fall back to the lexical form.
    */
  private def dtSortKey(c: Column): Column =
    coalesce(
      when(c.rlike(dtShapeFull),
        date_format(c.try_cast("timestamp"), "yyyy-MM-dd HH:mm:ss.SSSSSS")),
      c)

  private def dtComponent(df: DataFrame, a: VExpr, group: Int): Column =
    // regexp_extract yields "" for an unmatched optional group; nullif
    // maps that to the null the type-error contract wants (ANSI mode
    // would reject casting "" to double)
    nullif(regexp_extract(strVExpr(df, a), dtLexical, group), lit(""))
      .cast("double")

  /** §17.4.3 language-tag propagation: the result tag of a string
    * builtin, when derivable from the lang companions — UCASE/LCASE/
    * SUBSTR/REPLACE carry their first argument's tag; STRBEFORE/
    * STRAFTER keep it only when the separator occurs (the no-match
    * result is the plain ""); CONCAT carries the tag ALL arguments
    * share (any plain or differently-tagged argument makes the
    * result plain); STRLANG mints one. None = the result never
    * carries a tag and BIND attaches no companion.
    */
  private def langPropagated(df: DataFrame, e: VExpr): Option[Column] = e match {
    case VVar(n) if df.columns.contains(langCol(n)) => Some(col(langCol(n)))
    case FnCall("UCASE" | "LCASE", Seq(a)) => langPropagated(df, a)
    case FnCall("SUBSTR" | "REPLACE", a +: _) => langPropagated(df, a)
    case FnCall("STRBEFORE" | "STRAFTER", Seq(a, VStr(sep))) =>
      langPropagated(df, a).map(l =>
        if (sep.isEmpty) l else when(instr(strVExpr(df, a), sep) > 0, l))
    case FnCall("STRLANG", Seq(_, VStr(tag))) => Some(lit(tag))
    case FnCall("CONCAT", as) if as.nonEmpty =>
      // §17.4.3.12: the result is tagged only when EVERY argument
      // carries the SAME tag; any plain argument or tag mismatch
      // yields a simple literal — "" marks plainness explicitly so
      // LANG() distinguishes it from a type error
      val tags = as.map(langPropagated(df, _))
      if (tags.forall(_.isEmpty)) None
      else {
        val cols = tags.map(_.getOrElse(lit(null).cast("string")))
        val allSame = cols.tail.foldLeft(cols.head.isNotNull)((acc, c) =>
          acc && coalesce(c === cols.head, lit(false)))
        Some(when(allSame, cols.head).otherwise(lit("")))
      }
    case _ => None
  }

  /** String evaluation of a BIND expression (STR semantics: a
    * variable's lexical form).
    */
  private def strVExpr(df: DataFrame, e: VExpr): Column = e match {
    case VVar(n) =>
      if (df.columns.contains(n)) col(n) else lit(null).cast("string")
    case VStr(s) => lit(s)
    case VNum(d) => lit(d.toString)
    case FnCall("STR", Seq(a)) => strVExpr(df, a)
    case FnCall("UCASE", Seq(a)) => upper(strVExpr(df, a))
    case FnCall("LCASE", Seq(a)) => lower(strVExpr(df, a))
    case FnCall("CONCAT", as) if as.nonEmpty => concat(as.map(strVExpr(df, _)): _*)
    case FnCall("COALESCE", as) if as.nonEmpty =>
      // §17.4.1.3: an argument whose vars are out of scope is simply
      // unbound — skip it rather than crash resolution; all-skipped
      // means the whole COALESCE is unbound
      val inScope = as.filter(a => vexprVars(a).forall(df.columns.contains))
      if (inScope.isEmpty) lit(null).cast("string")
      else coalesce(inScope.map(strVExpr(df, _)): _*)
    // SPARQL SUBSTR is 1-based; the 2-arg form runs to the end
    case FnCall("SUBSTR", Seq(a, st)) =>
      val sa = strVExpr(df, a)
      sa.substr(numVExpr(df, st).cast("int"), length(sa))
    case FnCall("SUBSTR", Seq(a, st, ln)) =>
      strVExpr(df, a).substr(numVExpr(df, st).cast("int"),
        numVExpr(df, ln).cast("int"))
    // STRBEFORE/STRAFTER return "" when the separator is absent (the
    // SPARQL builtins' no-match value, unlike substring_index's
    // whole-string); separators are constant in this subset
    case FnCall("STRBEFORE", Seq(a, VStr(sep))) =>
      val sa = strVExpr(df, a)
      when(instr(sa, sep) > 0, substring_index(sa, sep, 1)).otherwise(lit(""))
    case FnCall("STRAFTER", Seq(a, VStr(sep))) =>
      val sa = strVExpr(df, a)
      when(instr(sa, sep) > 0,
        sa.substr(instr(sa, sep) + lit(sep.length), length(sa)))
        .otherwise(lit(""))
    case FnCall("REPLACE", Seq(a, VStr(pat), VStr(rep))) =>
      regexp_replace(strVExpr(df, a), pat, rep)
    // RFC 3986 percent-encoding over the unreserved set. Spark's
    // url_encode is FORM encoding — three divergences from the SPARQL
    // builtin (space → '+', '*' passes, '~' encodes) are post-fixed
    case FnCall("ENCODE_FOR_URI", Seq(a)) =>
      regexp_replace(regexp_replace(regexp_replace(
        url_encode(strVExpr(df, a)),
        "\\+", "%20"), "\\*", "%2A"), "%7E", "~")
    // STRLANG/STRDT outside BIND: the lexical form (the companions
    // only attach where a variable is bound)
    case FnCall("STRLANG" | "STRDT", Seq(a, _)) => strVExpr(df, a)
    // fresh UUIDs per solution row (necessarily nondeterministic, so
    // no oracled key uses them; tests assert format + uniqueness)
    // BNODE() mints a fresh node per call (§17.4.2.9 — freshness via
    // uuid, like STRUUID); BNODE(str) is deterministic per argument
    // (documented subset: the spec scopes same-arg identity to one
    // solution and distinctness across solutions, but bnode identity
    // is only observable through joins — the per-arg hash keeps the
    // engine's everything-is-reproducible posture)
    case FnCall("BNODE", Nil) =>
      concat(lit("_:b"), expr("replace(uuid(), '-', '')"))
    case FnCall("BNODE", Seq(a)) =>
      concat(lit("_:b"), md5(strVExpr(df, a)))
    case FnCall("STRUUID", Nil) => expr("uuid()")
    case FnCall("UUID", Nil) => concat(lit("urn:uuid:"), expr("uuid()"))
    // NOW(): the query-constant xsd:dateTime, serialized in the same
    // lexical convention the triple view uses for timestamp literals
    // (necessarily nondeterministic → tests-only, like UUID)
    case FnCall("NOW", Nil) => expr("CAST(now() AS STRING)")
    // TZ: the timezone part of the lexical form, "" when absent
    // (§17.4.5.8 — TZ of a zoneless dateTime is the empty string)
    case FnCall("TZ", Seq(a)) =>
      regexp_extract(strVExpr(df, a), tzLexical, 1)
    // TIMEZONE: the zone as a canonical xsd:dayTimeDuration
    // ("Z"/"+00:00" → PT0S, "-08:00" → -PT8H, "+05:30" → PT5H30M);
    // a zoneless dateTime is a type error → null (§17.4.5.7)
    case FnCall("TIMEZONE", Seq(a)) =>
      val t = regexp_extract(strVExpr(df, a), tzLexical, 1)
      val hh = substring(t, 2, 2).cast("int")
      val mm = substring(t, 5, 2).cast("int")
      val sign = when(substring(t, 1, 1) === "-", lit("-")).otherwise(lit(""))
      when(t === "", lit(null).cast("string"))
        .when(t === "Z" || (hh === 0 && mm === 0), lit("PT0S"))
        .otherwise(concat(sign, lit("PT"),
          when(hh > 0, concat(hh.cast("string"), lit("H"))).otherwise(lit("")),
          when(mm > 0, concat(mm.cast("string"), lit("M"))).otherwise(lit(""))))
    // SPARQL hash builtins: lowercase hex digests of the UTF-8 lexical
    // form (native codegen'd expressions in both engines)
    case FnCall("MD5", Seq(a)) => md5(strVExpr(df, a))
    case FnCall("SHA1", Seq(a)) => sha1(strVExpr(df, a))
    case FnCall("SHA256", Seq(a)) => sha2(strVExpr(df, a), 256)
    case FnCall("SHA384", Seq(a)) => sha2(strVExpr(df, a), 384)
    case FnCall("SHA512", Seq(a)) => sha2(strVExpr(df, a), 512)
    // IRI()/URI() mint a resource term from the lexical value; the
    // Bind case marks the bound column's is-IRI companion
    case FnCall("IRI" | "URI", Seq(a)) => strVExpr(df, a)
    // DATATYPE/LANG read the hidden companions: literal bindings type
    // as xsd:double / rdf:langString / xsd:string; an IRI (or s/p
    // position, or unbound) is a type error → null binding
    case FnCall("DATATYPE", Seq(VVar(n))) =>
      if (!df.columns.contains(iriCol(n))) {
        // a BIND-minted literal carries no term-kind companion but may
        // carry lang/num companions (STRLANG, CONCAT, numeric BIND) —
        // type it like a parsed literal; bare minted strings are kept
        // as errors (null) to match the pre-companion behavior
        val isNum =
          if (df.columns.contains(numCol(n))) col(numCol(n)).isNotNull
          else lit(false)
        val isTagged =
          if (df.columns.contains(langCol(n)))
            col(langCol(n)).isNotNull && col(langCol(n)) =!= ""
          else lit(false)
        if (df.columns.contains(langCol(n)) || df.columns.contains(numCol(n)))
          // the value itself may be unbound — an error-valued BIND, a
          // Union-padded row where only the OTHER branch binds the
          // var, or an OPTIONAL-unmatched row carrying the lexical
          // "N/A" fill — and DATATYPE of an error/unbound is an
          // error, not xsd:string. unboundCol is the house predicate
          // for exactly this (null OR the companion-less sentinel)
          when(unboundCol(df, n), lit(null).cast("string"))
            .when(isNum, lit("http://www.w3.org/2001/XMLSchema#double"))
            .when(isTagged,
              lit("http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"))
            .otherwise(lit("http://www.w3.org/2001/XMLSchema#string"))
        else lit(null).cast("string")
      } else when(coalesce(col(iriCol(n)), lit(true)), lit(null).cast("string"))
        .otherwise(
          when(col(numCol(n)).isNotNull,
            lit("http://www.w3.org/2001/XMLSchema#double"))
            // lang "" is the explicit plain-literal marker (CONCAT over
            // mixed tags mints it) — xsd:string, like LANG/the serializers
            .when(col(langCol(n)).isNotNull && col(langCol(n)) =!= "",
              lit("http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"))
            .otherwise(lit("http://www.w3.org/2001/XMLSchema#string")))
    case FnCall("LANG", Seq(VVar(n))) =>
      // a plain literal's language is ""; IRIs/unbound are errors.
      // The tag comes back LOWERCASED: RDF 1.1 §3.3 defines the
      // language-tag component of the term in lowercase, so data
      // spelled @EN denotes the same term as @en and lang() = "en"
      if (df.columns.contains(iriCol(n)))
        when(coalesce(col(iriCol(n)), lit(true)), lit(null).cast("string"))
          .otherwise(lower(coalesce(col(langCol(n)), lit(""))))
      // a BIND-minted literal carries no term-kind companion but may
      // carry a lang companion (STRLANG, tag-preserving builtins) —
      // LANG reads it; "" is the explicit plain-literal marker. Like
      // DATATYPE above, the value itself may be unbound (error BIND,
      // union padding, OPTIONAL "N/A" fill) — LANG of unbound is an
      // error, not ""
      else if (df.columns.contains(langCol(n)))
        when(unboundCol(df, n), lit(null).cast("string"))
          .otherwise(lower(coalesce(col(langCol(n)), lit(""))))
      else lit(null).cast("string")
    case VIf(c, t, f) =>
      // §17.4.1.2: IF with an ERROR condition is an error (unbound)
      val cc = exprColumn(df, guardScope(df, c))
      when(cc, strVExpr(df, t)).when(!cc, strVExpr(df, f))
    case other =>
      throw new IllegalArgumentException(s"$other is not a string BIND expression")
  }

  /** An arithmetic or STRLEN expression binds a typed numeric value
    * (projected as a double, like aggregate aliases); everything else
    * binds a string.
    */
  private def isNumericVExpr(e: VExpr): Boolean = e match {
    case _: Arith | _: VNum => true
    case FnCall("STRLEN" | "ABS" | "CEIL" | "FLOOR" | "ROUND" |
                "YEAR" | "MONTH" | "DAY" | "HOURS" | "MINUTES" |
                "SECONDS", _) => true
    case VIf(_, t, f) => isNumericVExpr(t) && isNumericVExpr(f)
    case _ => false
  }

  def compilePattern(triples: DataFrame, p: Pattern): DataFrame =
    compilePattern(triples, None, p)

  /** `quads` carries the named-graph dataset when the query entered
    * through [[runQuads]]; GRAPH groups compile against it, everything
    * else against the (default-graph) triple relation.
    */
  private[sparql] def compilePattern(triples: DataFrame,
                                     quads: Option[DataFrame],
                                     p: Pattern): DataFrame = p match {
    case GraphBgp(g, ps) =>
      val qd = quads.getOrElse(throw new IllegalArgumentException(
        "GRAPH requires a quad dataset — run the query via runQuads"))
      compileGraphBgp(qd, g, ps)
    case GraphGroup(g, inner) =>
      val qd = quads.getOrElse(throw new IllegalArgumentException(
        "GRAPH requires a quad dataset — run the query via runQuads"))
      g match {
        case Iri(gv) =>
          // the constant graph's slice IS the triple relation for the
          // sub-pattern, so paths/OPTIONAL/FILTER compose unchanged;
          // nested GRAPH groups still see the full named dataset
          compilePattern(qd.filter(col("g") === gv).drop("g"), quads, inner)
        case Var(gn) =>
          // §13.3 variable graph over a GENERAL body: thread the
          // graph column through the group — every BGP becomes a
          // graph-aware pattern emitting ?g, and the group's natural
          // joins (incl. OPTIONAL/MINUS compat machinery) align it,
          // so the whole body evaluates per named graph in ONE pass
          // over the quad relation, no per-graph loop. ?g is bound by
          // every threaded pattern, so it is never maybe-unbound and
          // the compat mask split ignores it correctly.
          threadGraphVar(gn, inner) match {
            case Some(threaded) if allVars(threaded).contains(gn) =>
              compilePattern(triples, quads, threaded)
            case Some(threaded) =>
              // a body binding no graph-linked variable (e.g. a bare
              // VALUES-free filter group): every named graph yields
              // the body's solutions with ?g bound to its name
              compilePattern(triples, quads, Join(
                PreBound(qd.select(col("g").as(gn)).distinct(), Seq(gn)),
                threaded))
            case None =>
              // the residual enumerate classes — evaluated PER NAMED
              // GRAPH against that graph's slice: (a) a ?g-free left
              // operand of MINUS (threading it would put ?g into the
              // §8.3 domain-disjointness decision), (b) a body already
              // using a variable named like ?g (in-scope collision),
              // (c) sub-SELECT residue the window/fill rewrites
              // leave: degenerate global-aggregate slices (OFFSET ≥ 1
              // or LIMIT 0), unprojected sort keys under a DISTINCT
              // or aggregate projection wall (plain unprojected keys
              // thread via the r18 lift), dataset clauses.
              // Graph names are metadata-scale (like predicates), so
              // the branch count is small and each branch keeps the
              // constant-graph pruning
              val graphs = qd.select(col("g")).distinct()
                .collect().map(_.getString(0)).sorted.toSeq
              if (graphs.isEmpty)
                compilePattern(qd.filter(lit(false)).drop("g"), quads, inner)
                  .withColumn(gn, lit(null).cast("string"))
              else padUnion(graphs.map { gv =>
                val sub = compilePattern(
                  qd.filter(col("g") === gv).drop("g"), quads, inner)
                // GRAPH ?g { … ?g … }: a body occurrence of the graph
                // var constrains this slice's rows to it
                if (sub.columns.contains(gn)) sub.filter(col(gn) === gv)
                else sub.withColumn(gn, lit(gv))
              })
          }
        case other => throw new IllegalArgumentException(
          s"GRAPH $other: the graph term must be an IRI or a variable")
      }
    case GraphPath(gn, path) =>
      val qd = quads.getOrElse(throw new IllegalArgumentException(
        "GRAPH requires a quad dataset — run the query via runQuads"))
      compileGraphPath(qd, gn, path)
    case PerGraphLimited(gn, q, dropAfter) =>
      // the threaded limit-less sub-SELECT runs once; the ordered cut
      // applies per named graph via a window partitioned on ?g — the
      // one pass the enumerate fallback used to buy with a plan per
      // graph. Numeric companions re-derive first (the SubSelect
      // convention), so typed sort keys order numerically; the
      // term-kind tier follows the engine's standing convention for
      // ordering post-projection subquery outputs (companion-less →
      // dateTime-aware lexical).
      val inner0 = run(triples, quads,
        q.copy(orderBy = Seq.empty, limit = -1L, offset = 0L))
      val inner = inner0.schema.fields.filterNot(f => isCompanion(f.name))
        .foldLeft(inner0)((d, f) =>
          if (d.columns.contains(numCol(f.name))) d
          else d.withColumn(numCol(f.name), col(f.name).try_cast("double")))
      val sorts = tieredSortKeys(inner,
        q.orderBy.filter(o => inner.columns.contains(o._1)))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(gn)).orderBy(sorts: _*)
      val rn = inner.withColumn("__pgl_rn", row_number().over(w))
      val cut = (if (q.limit >= 0)
        rn.filter(col("__pgl_rn") > q.offset &&
          col("__pgl_rn") <= q.offset + q.limit)
      else rn.filter(col("__pgl_rn") > q.offset))
        .drop("__pgl_rn")
      // lifted unprojected sort keys (r18) leave the frame here, with
      // their companions — the cut has consumed them
      if (dropAfter.isEmpty) cut
      else cut.drop(dropAfter.flatMap(c =>
        Seq(c, numCol(c), iriCol(c), langCol(c))): _*)
    case PerGraphGlobalAgg(gn, q) =>
      // the threaded aggregate (grouped on ?g) yields rows only for
      // MATCHING graphs; §18.5 demands one row per named graph, so
      // the distinct graph-name frame left-joins the fold and
      // match-free graphs fill each aggregate's empty-group value
      // (Sum({}) = Avg({}) = 0, Count({}) = 0, GroupConcat({}) = "",
      // Min/Max/Sample({}) = unbound) — still one pass, no plan per
      // graph
      val qd = quads.getOrElse(throw new IllegalArgumentException(
        "GRAPH requires a quad dataset — run the query via runQuads"))
      // HAVING applies AFTER the fill (§18.5.1: Group((), Ω) = {() → Ω}
      // even for empty Ω, so a match-free graph's filled row IS a
      // group and HAVING filters it like any other) — strip it from
      // the inner run and synthesize its hidden aggregates here, so
      // they survive the inner projection wall until the post-fill
      // filter has used them
      val hidden = hiddenHavingAggs(q)
      val allAggs = q.aggregates ++ hidden
      val agg = run(triples, quads, q.copy(
        projection = q.projection ++ hidden.map(_.alias),
        aggregates = allAggs,
        having = Seq.empty))
      val graphs = qd.select(col("g").as(gn)).distinct()
      val joined = graphs.join(agg, Seq(gn), "left_outer")
      val filled = allAggs.foldLeft(joined) { (d, a) =>
        a.op match {
          case Count | CountDistinct =>
            d.withColumn(a.alias, coalesce(col(a.alias), lit(0L)))
          case Sum | Avg =>
            d.withColumn(a.alias, coalesce(col(a.alias), lit(0.0)))
          case GroupConcat =>
            d.withColumn(a.alias, coalesce(col(a.alias), lit("")))
          case Min | Max | Sample =>
            d.withColumn(a.alias, coalesce(col(a.alias), lit("N/A")))
        }
      }
      val kept = q.having
        .foldLeft(filled)((d, e) => d.filter(havingColumn(e, allAggs)))
        .drop(hidden.flatMap(a => Seq(a.alias, numCol(a.alias))): _*)
      kept.schema.fields.filterNot(f => isCompanion(f.name))
        .foldLeft(kept)((d, f) =>
          if (d.columns.contains(numCol(f.name))) d
          else d.withColumn(numCol(f.name), col(f.name).try_cast("double")))
    case Bgp(ps) => compileBgp(triples, ps)
    case GraphNames(gn) =>
      // distinct named-graph names (metadata-scale, broadcast): the
      // per-graph replication frame for graph-independent operands
      val qd = quads.getOrElse(throw new IllegalArgumentException(
        "GRAPH requires a quad dataset — run the query via runQuads"))
      broadcast(qd.select(col("g").as(gn)).distinct())
    case PreBound(frame, _) => frame
    case Filter(exprs, input) =>
      val lRisky = maybeUnboundVars(input)
      exprs.foldLeft(compilePattern(triples, quads, input)) {
        // top-level EXISTS / NOT EXISTS: the body is a full group
        // pattern (r12); the filter IS a semi/anti join on shared
        // vars — correlated FILTER-only vars spliced in first
        // (§8.1.1 substitution) so they key the semi/anti join too,
        // and possibly-unbound outer vars mask-split out of the keys
        case (df, Exists(p)) =>
          compatExists(df, hintSmallSide(triples, p,
            compilePattern(triples, quads, substituteOuter(df, p))),
            lRisky, neg = false)
        case (df, NotExists(p)) =>
          compatExists(df, hintSmallSide(triples, p,
            compilePattern(triples, quads, substituteOuter(df, p))),
            lRisky, neg = true)
        // EXISTS nested inside &&/||/!: each occurrence binds a
        // boolean marker via ONE distinct-projected flag left-join,
        // then the whole expression filters over the markers — never
        // a row-at-a-time subquery
        case (df, e) if containsExists(e) =>
          val (df2, e2, ms) = bindExistsMarkers(triples, quads, df, e, lRisky)
          df2.filter(exprColumn(df2, guardScope(df2, e2))).drop(ms: _*)
        case (df, e) => df.filter(exprColumn(df, guardScope(df, e)))
      }
    // §8.1.1 / §18.2.2.3: OPTIONAL { P FILTER F } where F references
    // LHS vars translates to LeftJoin(P1, P2, F) — the filter is the
    // JOIN CONDITION, evaluated over the MERGED bindings, never a
    // body-local filter (which would see the outer var as a type
    // error and kill every match). Inner-only filters keep the plain
    // body-filter path; EXISTS-bearing filters stay in the body,
    // where the marker machinery owns them.
    case LeftJoin(l, Filter(es, inner)) if {
      val iv = allVars(inner); val lv = allVars(l)
      es.exists(e => !containsExists(e) &&
        !deepExprVars(e).subsetOf(iv) && deepExprVars(e).exists(lv))
    } =>
      val iv = allVars(inner); val lv = allVars(l)
      val (lifted, kept) = es.partition(e => !containsExists(e) &&
        !deepExprVars(e).subsetOf(iv) && deepExprVars(e).exists(lv))
      val rPat = if (kept.isEmpty) inner else Filter(kept, inner)
      leftJoinWithCondition(
        compilePattern(triples, quads, l),
        hintSmallSide(triples, rPat, compilePattern(triples, quads, rPat)),
        maybeUnboundVars(l), maybeUnboundVars(rPat), lifted)
    case LeftJoin(l, r) =>
      val ldf = compilePattern(triples, quads, l)
      val rdf = hintSmallSide(triples, r, compilePattern(triples, quads, r))
      compatLeftJoin(ldf, rdf, maybeUnboundVars(l))
    case Union(l, r) =>
      val ldf = compilePattern(triples, quads, l)
      val rdf = compilePattern(triples, quads, r)
      val allCols = (ldf.columns ++ rdf.columns.diff(ldf.columns)).toSeq
      def pad(df: DataFrame): DataFrame =
        df.select(allCols.map(c =>
          if (df.columns.contains(c)) col(c)
          else lit(null).cast(
            if (isNumCol(c)) "double"
            else if (isIriCol(c)) "boolean"
            else "string").as(c)): _*)
      pad(ldf).unionByName(pad(rdf))
    // VALUES with UNDEF rows joins by W3C COMPATIBILITY (§10.2.2:
    // an unbound value matches anything), not plain equality — the
    // generic equi-join would wrongly drop every UNDEF row on a null
    // key. Handled per-side so the table can precede or follow the
    // patterns it constrains.
    case Join(l, ValuesPattern(vs, rows)) if rows.exists(_.contains(Undef)) =>
      compatValuesJoin(compilePattern(triples, quads, l), vs, rows)
    case Join(ValuesPattern(vs, rows), r) if rows.exists(_.contains(Undef)) =>
      compatValuesJoin(compilePattern(triples, quads, r), vs, rows)
    case Join(l, r) =>
      // either group side may be the stats-estimated small one — hint
      // it so the group-level join broadcasts like the BGP-internal
      // joins already do (when both qualify Spark picks one side)
      compatInnerJoin(
        hintSmallSide(triples, l, compilePattern(triples, quads, l)),
        hintSmallSide(triples, r, compilePattern(triples, quads, r)),
        maybeUnboundVars(l), maybeUnboundVars(r))
    case Minus(l, r) =>
      // SPARQL 1.1 §8.3: remove left solutions compatible with a right
      // solution sharing ≥1 variable; with disjoint domains MINUS is a
      // no-op (unlike NOT EXISTS, which would drop everything when the
      // right side is non-empty)
      val ldf = compilePattern(triples, quads, l)
      val rdf = hintSmallSide(triples, r, compilePattern(triples, quads, r))
      val shared = ldf.columns.intersect(rdf.columns).filterNot(isCompanion)
      if (shared.isEmpty) ldf
      else compatMinus(ldf, rdf, maybeUnboundVars(l), maybeUnboundVars(r))
    // BIND(IF(EXISTS {…}, t, f) AS ?v): the EXISTS condition binds a
    // boolean marker through the same flag left-join the FILTER path
    // uses (one distinct-projected body compile, never row-at-a-time),
    // then the IF compiles over the marker and the helpers drop
    case Bind(input, VIf(c, t, f), as) if containsExists(c) =>
      val df0 = compilePattern(triples, quads, input)
      require(!df0.columns.contains(as), s"BIND ?$as: variable already in scope")
      val (df2, c2, ms) =
        bindExistsMarkers(triples, quads, df0, c, maybeUnboundVars(input))
      val bound = compilePattern(triples, quads,
        Bind(PreBound(df2, df2.columns.toSeq), VIf(c2, t, f), as))
      bound.drop(ms: _*)
    case Bind(input, expr, as) =>
      val df = compilePattern(triples, quads, input)
      require(!df.columns.contains(as), s"BIND ?$as: variable already in scope")
      // §10.1 + §17.2: an expression over a variable the pattern never
      // binds evaluates to a TYPE ERROR, and a BIND error leaves the
      // target unbound for the row — here statically unbound for ALL
      // rows, so bind the fill sentinel (no companions, the unbound
      // convention) instead of letting col(missing) crash analysis.
      // COALESCE-tolerated vars are excluded by vexprVars.
      if (!vexprVars(expr).subsetOf(df.columns.toSet))
        return df.withColumn(as, lit("N/A"))
      expr match {
        // plain variable copy keeps the companion columns too, so the
        // alias stays filterable/sortable exactly like its source
        case VVar(src) if df.columns.contains(src) =>
          val withLex = df.withColumn(as, col(src))
          Seq(numCol _, langCol _, iriCol _).foldLeft(withLex) { (d, f) =>
            if (df.columns.contains(f(src))) d.withColumn(f(as), col(f(src))) else d
          }
        case e if isNumericVExpr(e) =>
          // numeric BINDs are typed doubles (like aggregate aliases) —
          // both engines compute them row-locally from identical
          // inputs, so they hash stably, unlike a formatted lexical
          df.withColumn(as, numVExpr(df, e)).withColumn(numCol(as), col(as))
        case FnCall("IRI" | "URI", Seq(inner)) =>
          // a minted IRI is a resource term: isIRI/DATATYPE see it so
          df.withColumn(as, strVExpr(df, inner))
            .withColumn(iriCol(as), lit(true))
        case FnCall("STRLANG", Seq(inner, VStr(tag))) =>
          // a minted language-tagged literal: LANG()/LANGMATCHES and
          // the lang-aware serializers see the tag via the companion
          df.withColumn(as, strVExpr(df, inner))
            .withColumn(langCol(as), lit(tag))
        case FnCall("STRDT", Seq(inner, VStr(dt))) =>
          // a minted typed literal; the double datatype also fills the
          // numeric companion so the term is filterable/sortable like
          // a parsed typed literal (other datatypes keep lexical-only).
          // try_cast, not cast: an invalid lexical form means "no
          // numeric value" in SPARQL — and Catalyst may push the
          // expression below the joins that restrict the rows, where a
          // strict ANSI cast would throw on unrelated bindings
          val base = df.withColumn(as, strVExpr(df, inner))
          if (dt == "http://www.w3.org/2001/XMLSchema#double" ||
            dt == "xsd:double")
            base.withColumn(numCol(as), base(as).try_cast("double"))
          else base
        case e @ FnCall("UUID", Nil) =>
          // a minted urn:uuid is a resource term like IRI()
          df.withColumn(as, strVExpr(df, e))
            .withColumn(iriCol(as), lit(true))
        case e @ FnCall("BNODE", _) =>
          // a minted blank node is a resource term whose `_:` lexical
          // prefix makes isBlank/serializers see bnode syntax
          df.withColumn(as, strVExpr(df, e))
            .withColumn(iriCol(as), lit(true))
        case e if langPropagated(df, e).isDefined =>
          // §17.4.3: tag-preserving string builtins (UCASE/SUBSTR/…)
          // keep their argument's language; the companion makes
          // LANG()/LANGMATCHES and the serializers see it
          df.withColumn(as, strVExpr(df, e))
            .withColumn(langCol(as), langPropagated(df, e).get)
        case e =>
          df.withColumn(as, strVExpr(df, e))
      }
    case ValuesPattern(vs, valueRows) =>
      valuesTable(triples.sparkSession, vs, valueRows)
    case NegPath(s, preds, o) =>
      // one hop over any predicate outside the set: the ordinary
      // pattern machinery over a predicate-filtered slice, with a
      // fresh predicate variable that is dropped after projection
      patternDf(triples.filter(!col("p").isin(preds: _*)),
        TriplePattern(s, Var("__negp"), o)).drop("__negp")
    case PathAlt(s, preds, o) =>
      // the positive twin of NegPath: one hop over any predicate IN
      // the set — one isin filter on the store's predicate column
      patternDf(triples.filter(col("p").isin(preds: _*)),
        TriplePattern(s, Var("__altp"), o)).drop("__altp")
    case SubSelect(q) =>
      // evaluate the inner SELECT bottom-up, then re-derive the
      // numeric companions the enclosing group's FILTER/ORDER
      // machinery expects: numeric outputs (COUNT/SUM/AVG) cast
      // directly; string outputs (variables, MIN/MAX lexical forms)
      // take their parsed-number-or-null — the same lexical+companion
      // convention pattern bindings use ("N/A" and IRIs become null).
      // try_cast, not cast: Spark 4 runs ANSI-on, and an enclosing
      // ORDER BY / numeric FILTER (or a Catalyst-pushed evaluation)
      // over a string/IRI-valued output would otherwise CRASH instead
      // of yielding unbound (same reason as the STRDT case above)
      val df = run(triples, quads, q)
      df.schema.fields.filterNot(f => isCompanion(f.name))
        .foldLeft(df)((d, f) =>
          if (d.columns.contains(numCol(f.name))) d
          else d.withColumn(numCol(f.name), col(f.name).try_cast("double")))
    case PathSeq(s, steps, o) if steps.exists(_.alts.size > 1) =>
      // alternation nested inside a sequence (`:a/(:b|^:c)`): the W3C
      // algebra translation turns alternation into UNION, so expand
      // the cross product of per-step choices into a union of plain
      // sequences — bag-correct (two routes to one endpoint are two
      // solutions) and each branch keeps the BGP desugar's partition
      // pruning. Branch count is the product of alternation widths, a
      // query constant.
      val combos = steps.foldLeft(Seq(Seq.empty[(String, Boolean)])) {
        (acc, st) => acc.flatMap(pre => st.alts.map(pre :+ _))
      }
      val branches = combos
        .map(c => PathSeq(s, c.map(a => PathStep(a._1, a._2)), o): Pattern)
        .map(compilePattern(triples, quads, _))
      // a var lands in subject position in one branch (no companions)
      // and object position in another (full companions) when the
      // choices differ in direction — pad the MISSING companions with
      // typed nulls per branch (the Union case's convention) instead
      // of dropping to the common column set: the branches that DO
      // bind the endpoint in object position keep their numeric/lang/
      // is-IRI companions, so a downstream FILTER(?y > 5) or tiered
      // ORDER BY still sees them; subject-position rows carry null
      // companions, which read as "resource term / no numeric value"
      // exactly like a subject binding elsewhere
      padUnion(branches)
    case PathSeq(s, steps, o) =>
      // desugar to the BGP chain s step1 ?__path1 . ?__path1 step2 … o
      // (an inverse step swaps its pattern's endpoints); the fresh
      // intermediate variables are dropped after the joins so they
      // never reach projections or SELECT *
      val terms: Seq[Term] =
        s +: (1 until steps.size).map(i => Var(s"__path$i")) :+ o
      val patterns = steps.zipWithIndex.map { case (st, i) =>
        if (st.inverse) TriplePattern(terms(i + 1), Iri(st.pred), terms(i))
        else TriplePattern(terms(i), Iri(st.pred), terms(i + 1))
      }
      val df = compileBgp(triples, patterns)
      df.drop(df.columns.filter(_.startsWith("__path")): _*)
    case PathPlus(s, preds, o) =>
      projectPathEndpoints(plusPairs(triples, preds, s, o), s, o)
    case PathStar(s, preds, o) =>
      // zero-or-more = one-or-more pairs ∪ the zero-length identity;
      // distinct because a cycle can reproduce an identity pair
      projectPathEndpoints(
        plusPairs(triples, preds, s, o)
          .unionByName(zeroPairs(triples, s, o)).distinct(), s, o)
    case PathZeroOne(s, preds, o) =>
      val hop = triples.filter(col("p").isin(preds: _*))
        .select(col("s").as("sub"), col("o").as("sup"))
      projectPathEndpoints(
        hop.unionByName(zeroPairs(triples, s, o)).distinct(), s, o)
    case PathRange(s, preds, mn, mx, o) if mx < 0 =>
      // `{n,}` — unbounded above (mx = -1 sentinel; ARQ extension the
      // reference's Jena front end accepts): n-1 exact hops composed
      // with the one-or-more closure
      rangeMinPairs(triples, triples.filter(col("p").isin(preds: _*))
        .select(col("s").as("sub"), col("o").as("sup")), mn, s, o)
    case PathRange(s, preds, mn, mx, o) =>
      // union of the k-hop chain relations for k ∈ [mn, mx]: edges
      // composed k times (each composition an equi-join on the hop
      // var, so AQE broadcast/shuffle applies per join), k = 0 the
      // zero-length identity. The bounded repetition never computes a
      // closure — m is a query constant, so the plan is m-1 joins of
      // the predicate slice regardless of graph size.
      rangePairs(triples, triples.filter(col("p").isin(preds: _*))
        .select(col("s").as("sub"), col("o").as("sup")), mn, mx, s, o)
    case PathSeqRange(s, steps, mn, mx, o) if mx < 0 =>
      rangeMinPairs(triples, seqEdges(triples, steps), mn, s, o)
    case PathSeqRange(s, steps, mn, mx, o) =>
      // the sequence-operand twin of PathRange: same k-hop union, over
      // the COMPOSED edge relation
      rangePairs(triples, seqEdges(triples, steps), mn, mx, s, o)
    case PathSeqMod(s, steps, mod, o) =>
      // modifier over a parenthesized sequence: the same closure /
      // identity machinery as the alternation forms, but over the
      // COMPOSED k-step edge relation
      val edges = seqEdges(triples, steps)
      mod match {
        case '+' => projectPathEndpoints(plusPairsOver(edges, s, o), s, o)
        case '*' => projectPathEndpoints(
          plusPairsOver(edges, s, o)
            .unionByName(zeroPairs(triples, s, o)).distinct(), s, o)
        case _ => projectPathEndpoints(
          edges.unionByName(zeroPairs(triples, s, o)).distinct(), s, o)
      }
  }

  /** One-or-more-hop pairs over the predicate slice. A constant
    * endpoint seeds a frontier BFS (touches only the reachable
    * neighborhood); only the var-var form pays for the full transitive
    * closure (log-diameter rounds of path doubling; see
    * inference.Closure).
    */
  private def plusPairs(triples: DataFrame, preds: Seq[String],
                        s: Term, o: Term): DataFrame =
    plusPairsOver(triples.filter(col("p").isin(preds: _*))
      .select(col("s").as("sub"), col("o").as("sup")), s, o,
      preferBackward = backwardSeedCheaper(triples, preds))

  /** Stats phase 2 (r16): for a BOTH-endpoints-bound closure
    * (`<a> :p+ <b>`) either endpoint can seed the BFS — pick the
    * direction with the smaller average branching factor from the
    * persisted per-predicate stats (forward frontier grows by the
    * avg out-degree n/|subjects|, backward by the avg in-degree
    * n/|objects|). A many-to-one hierarchy (child→parent) explodes
    * BACKWARD from the root but stays single-chain FORWARD from the
    * leaf — and inverted for one-to-many. No stats → forward, the
    * historical default.
    */
  private[sparql] def backwardSeedCheaper(triples: DataFrame,
                                          preds: Seq[String]): Boolean =
    statsOf(triples).exists { stats =>
      val sel = preds.flatMap(stats.get)
      val n = sel.map(_.n).sum.toDouble
      n > 0 && {
        val outDeg = n / sel.map(_.nSubjects).sum.toDouble.max(1.0)
        val inDeg = n / sel.map(_.nObjects).sum.toDouble.max(1.0)
        inDeg < outDeg
      }
    }

  /** The closure machinery over an ARBITRARY (sub, sup) edge relation
    * — shared by the predicate-slice paths and [[Ast.PathSeqMod]]'s
    * composed-sequence edges. `preferBackward` (stats-driven, only
    * meaningful when BOTH endpoints are bound) seeds the BFS at the
    * object and walks edges in reverse; results are identical either
    * way, only the traversal cost differs.
    */
  private def plusPairsOver(edges: DataFrame, s: Term, o: Term,
                            preferBackward: Boolean = false): DataFrame =
    (s, o) match {
      case (Iri(sv), Iri(ov)) if preferBackward =>
        val flipped = edges.select(col("sup").as("sub"), col("sub").as("sup"))
        graft.inference.Closure.reachableFrom(flipped, ov)
          .select(col("sup").as("sub"), lit(ov).as("sup"))
          .filter(col("sub") === sv)
      case (Iri(sv), _) =>
        graft.inference.Closure.reachableFrom(edges, sv)
          .select(lit(sv).as("sub"), col("sup"))
      case (_, Iri(ov)) =>
        val flipped = edges.select(col("sup").as("sub"), col("sub").as("sup"))
        graft.inference.Closure.reachableFrom(flipped, ov)
          .select(col("sup").as("sub"), lit(ov).as("sup"))
      case _ => graft.inference.Closure.transitive(edges)
    }

  /** Bounded k-hop union shared by both PathRange operand shapes:
    * the [mn max 1, mx] compositions of `edges` (k−1 equi-joins
    * each) plus the zero-length identity when mn = 0, projected to
    * the pattern's endpoints.
    */
  private def rangePairs(triples: DataFrame, edges: DataFrame,
                         mn: Int, mx: Int, s: Term, o: Term): DataFrame = {
    val hops = ((mn max 1) to mx).map(kHopCompose(edges, _)) ++
      (if (mn == 0) Seq(zeroPairs(triples, s, o)) else Nil)
    projectPathEndpoints(hops.reduceLeft(_.unionByName(_)).distinct(), s, o)
  }

  /** The k-fold composition of a (sub, sup) edge relation — k−1
    * equi-joins on the hop node, each AQE-eligible. Shared by the
    * bounded-range path forms and their graph-encoded twins.
    */
  private def kHopCompose(edges: DataFrame, k: Int): DataFrame =
    (2 to k).foldLeft(edges) { (acc, _) =>
      acc.join(edges.select(col("sub").as("sup"), col("sup").as("nxt")), "sup")
        .select(col("sub"), col("nxt").as("sup"))
    }

  /** `{n,}` pairs: exactly n−1 hops (a bounded join chain — a
    * constant subject pushes through the chain to the first scan),
    * composed with the one-or-more closure from the reached nodes,
    * endpoint-deduplicated like the other closure forms. n ∈ {0, 1}
    * degenerate to `*` / `+` and keep their seeded-BFS optimizations;
    * n ≥ 2 with a variable subject pays the var-var closure — the
    * same cost class as var-var `+`, which the shape contains.
    */
  private def rangeMinPairs(triples: DataFrame, edges: DataFrame,
                            mn: Int, s: Term, o: Term): DataFrame = {
    if (mn <= 0)
      projectPathEndpoints(plusPairsOver(edges, s, o)
        .unionByName(zeroPairs(triples, s, o)).distinct(), s, o)
    else if (mn == 1)
      projectPathEndpoints(plusPairsOver(edges, s, o), s, o)
    else {
      val prefix0 = kHopCompose(edges, mn - 1)
      val prefix = (s match {
        case Iri(sv) => prefix0.filter(col("sub") === sv)
        case _ => prefix0
      }).distinct()
      // ≥ n hops = (n-1 hops) ∘ (1-or-more hops): compose on the
      // frontier node, dedup endpoints. A constant object keeps the
      // closure arm's backward-seeded BFS (plusPairsOver's Iri case)
      // instead of the full transitive closure.
      val closure = (o match {
        case Iri(_) => plusPairsOver(edges, Var("__prm_l"), o)
        case _ => plusPairsOver(edges, Var("__prm_l"), Var("__prm_r"))
      }).select(col("sub").as("mid"), col("sup"))
      val pairs = prefix.select(col("sub"), col("sup").as("mid"))
        .join(closure, "mid")
        .select(col("sub"), col("sup")).distinct()
      projectPathEndpoints(pairs, s, o)
    }
  }

  /** The composed (sub, sup) edge relation of a sequence path: each
    * step a predicate slice of the store (inverse steps swap
    * endpoints), composed by equi-joins on the hop var — k−1 joins for
    * a k-step sequence, each AQE-eligible. This is the edge set a
    * modifier over a parenthesized sequence closes over.
    */
  private[graft] def seqEdges(triples: DataFrame, steps: Seq[Ast.PathStep]): DataFrame = {
    val hops = steps.map { st =>
      // a step may be an alternation of atoms (§9.1): the hop edge
      // set is the union of its forward slice (isin prunes all listed
      // predicate partitions at once) and its endpoint-swapped
      // inverse slice — set semantics are fine here, the closures
      // this feeds are distinct by definition
      val fwd = st.alts.filterNot(_._2).map(_._1)
      val inv = st.alts.filter(_._2).map(_._1)
      val arms = Seq(
        if (fwd.isEmpty) None else Some(
          triples.filter(col("p").isin(fwd: _*))
            .select(col("s").as("sub"), col("o").as("sup"))),
        if (inv.isEmpty) None else Some(
          triples.filter(col("p").isin(inv: _*))
            .select(col("o").as("sub"), col("s").as("sup")))).flatten
      arms.reduce(_.unionByName(_))
    }
    hops.reduceLeft { (acc, nxt) =>
      acc.join(nxt.select(col("sub").as("sup"), col("sup").as("nxt")), "sup")
        .select(col("sub"), col("nxt").as("sup"))
    }.distinct()
  }

  /** The zero-length path pairs: a bound endpoint relates to itself;
    * with both endpoints variable, every graph node (subjects ∪ IRI
    * objects — one distinct over the triple cache, inherent to SPARQL
    * zero-length-path semantics) relates to itself.
    */
  private def zeroPairs(triples: DataFrame, s: Term, o: Term): DataFrame = {
    val spark = triples.sparkSession
    def single(v: String) =
      spark.range(1).select(lit(v).as("sub"), lit(v).as("sup"))
    // a bound endpoint — IRI or literal (W3C §9.3: the zero-length
    // path relates ANY term, including literals, to itself) — relates
    // to itself and nothing else
    def lex(t: Term): Option[String] = t match {
      case Iri(v) => Some(v)
      case l: Lit => Some(l.lexical)
      case _ => None
    }
    (lex(s), lex(o)) match {
      case (Some(sv), Some(ov)) =>
        if (sv == ov) single(sv)
        else spark.range(0).select(lit("").as("sub"), lit("").as("sup"))
      case (Some(sv), None) => single(sv)
      case (None, Some(ov)) => single(ov)
      case _ =>
        // both endpoints variable: (t, t) for EVERY term of the graph
        // — subjects and objects alike, literal objects included
        // (§9.3 defines the zero-length pairs over all terms of G,
        // not just resources; found by conformance batch r15.d)
        triples.select(col("s"))
          .unionByName(triples.select(col("o").as("s")))
          .distinct()
          .select(col("s").as("sub"), col("s").as("sup"))
    }
  }

  /** Endpoint filters + variable projection shared by all path forms
    * over a (sub, sup) pair relation.
    */
  private def projectPathEndpoints(pairs: DataFrame, s: Term, o: Term): DataFrame = {
    var df = pairs
    // bound endpoints filter the pair relation; a LITERAL endpoint
    // (legal at the object of a path, and at the subject via inverse)
    // compares on its lexical form — the pair relation carries
    // lexicals only (documented subset, same as CONSTRUCT)
    s match {
      case Iri(v) => df = df.filter(col("sub") === v)
      case l: Lit => df = df.filter(col("sub") === l.lexical)
      case _ => ()
    }
    o match {
      case Iri(v) => df = df.filter(col("sup") === v)
      case l: Lit => df = df.filter(col("sup") === l.lexical)
      case _ => ()
    }
    (s, o) match {
      case (Var(a), Var(b)) if a == b => df = df.filter(col("sub") === col("sup"))
      case _ => ()
    }
    val out = Seq.newBuilder[Column]
    s match { case Var(n) => out += col("sub").as(n); case _ => () }
    o match {
      case Var(n) if s != o => out += col("sup").as(n)
      case _ => ()
    }
    df.select(out.result(): _*)
  }

  // ---- property paths under a VARIABLE graph (one-pass compile) ----

  /** Separator for graph-encoded node ids (`g⊕node`). A control char:
    * RFC 3987 forbids it in IRIs, so the GRAPH half of an encoding is
    * unambiguous (graph names are IRIs). Literal NODES may contain it
    * in principle — the limit-2 decode keeps such lexicals intact.
    */
  private val GSEP = "\u0001"

  private def encNode(g: Column, n: Column): Column = concat(g, lit(GSEP), n)
  private def gOf(c: Column): Column = substring_index(c, GSEP, 1)
  private def nodeOf(c: Column): Column = split(c, GSEP, 2).getItem(1)

  /** The quad relation as a graph-ENCODED (s, p, o) view: node ids
    * carry their graph (`g⊕node`), so every path helper — predicate
    * slices, [[seqEdges]] compositions, [[Closure.transitive]],
    * [[zeroPairs]] — computes per-graph reachability UNCHANGED: an
    * encoded node only ever equi-joins nodes of its own graph. This
    * is what makes `GRAPH ?g { …path… }` one distributed pass instead
    * of a plan per named graph.
    */
  private def encQuads(qd: DataFrame): DataFrame =
    qd.select(encNode(col("g"), col("s")).as("s"), col("p"),
      encNode(col("g"), col("o")).as("o"))

  /** [[plusPairsOver]] under a variable graph: the var-var closure is
    * per-graph for free on encoded edges; a BOUND endpoint seeds one
    * frontier per named graph (the seeds FRAME — graph names collect
    * to the driver only when the edges are small enough for the
    * driver BFS) and each reached node reconstructs its seed from its
    * own graph half.
    */
  private def plusPairsOverG(graphs: DataFrame, encEdges: DataFrame,
                             s: Term, o: Term): DataFrame = (s, o) match {
    case (Iri(sv), _) =>
      val seeds = graphs.select(encNode(col("g"), lit(sv)).as("src"))
      graft.inference.Closure.reachableFromAny(encEdges, seeds)
        .select(encNode(gOf(col("sup")), lit(sv)).as("sub"), col("sup"))
    case (_, Iri(ov)) =>
      val flipped = encEdges.select(col("sup").as("sub"), col("sub").as("sup"))
      val seeds = graphs.select(encNode(col("g"), lit(ov)).as("src"))
      graft.inference.Closure.reachableFromAny(flipped, seeds)
        .select(col("sup").as("sub"),
          encNode(gOf(col("sup")), lit(ov)).as("sup"))
    case _ => graft.inference.Closure.transitive(encEdges)
  }

  /** [[zeroPairs]] under a variable graph: a bound endpoint relates
    * to itself IN EVERY NAMED GRAPH (§9.3 zero-length semantics,
    * evaluated per active graph); the var-var form takes each graph's
    * own term set — both via the encoded ids, never a graph collect.
    */
  private def zeroPairsG(qd: DataFrame, s: Term, o: Term): DataFrame = {
    def lex(t: Term): Option[String] = t match {
      case Iri(v) => Some(v)
      case l: Lit => Some(l.lexical)
      case _ => None
    }
    val graphs = qd.select(col("g")).distinct()
    def single(v: String) = graphs.select(
      encNode(col("g"), lit(v)).as("sub"), encNode(col("g"), lit(v)).as("sup"))
    (lex(s), lex(o)) match {
      case (Some(sv), Some(ov)) =>
        if (sv == ov) single(sv)
        else qd.sparkSession.range(0)
          .select(lit("").as("sub"), lit("").as("sup"))
      case (Some(sv), None) => single(sv)
      case (None, Some(ov)) => single(ov)
      case _ =>
        val enc = encQuads(qd)
        enc.select(col("s"))
          .unionByName(enc.select(col("o").as("s")))
          .distinct()
          .select(col("s").as("sub"), col("s").as("sup"))
    }
  }

  /** Decode graph-encoded (sub, sup) pairs to (?g, endpoints) and
    * apply the same endpoint filtering/projection discipline as
    * [[projectPathEndpoints]]. An endpoint variable SPELLING the
    * graph variable (`GRAPH ?g { ?a :p+ ?g }`) constrains that
    * endpoint to the graph name, emitted once.
    */
  private def projectGraphPathEndpoints(pairs: DataFrame, gn: String,
                                        s: Term, o: Term): DataFrame = {
    var df = pairs.select(gOf(col("sub")).as("__g"),
      nodeOf(col("sub")).as("sub"), nodeOf(col("sup")).as("sup"))
    s match {
      case Iri(v) => df = df.filter(col("sub") === v)
      case l: Lit => df = df.filter(col("sub") === l.lexical)
      case _ => ()
    }
    o match {
      case Iri(v) => df = df.filter(col("sup") === v)
      case l: Lit => df = df.filter(col("sup") === l.lexical)
      case _ => ()
    }
    (s, o) match {
      case (Var(a), Var(b)) if a == b =>
        df = df.filter(col("sub") === col("sup"))
      case _ => ()
    }
    s match {
      case Var(n) if n == gn => df = df.filter(col("sub") === col("__g"))
      case _ => ()
    }
    o match {
      case Var(n) if n == gn => df = df.filter(col("sup") === col("__g"))
      case _ => ()
    }
    val out = Seq.newBuilder[Column]
    out += col("__g").as(gn)
    s match {
      case Var(n) if n != gn => out += col("sub").as(n)
      case _ => ()
    }
    o match {
      case Var(n) if n != gn && s != o => out += col("sup").as(n)
      case _ => ()
    }
    df.select(out.result(): _*)
  }

  /** One-pass compile of a property path under `GRAPH ?g`: every hop
    * relation is built from the graph-encoded quad view, so the
    * shared closure / k-hop machinery computes per-graph reachability
    * in one distributed computation — no per-named-graph plan
    * enumeration, no driver-side graph collect (the pre-r16 fallback
    * for exactly these bodies).
    */
  private def compileGraphPath(qd: DataFrame, gn: String,
                               p: Pattern): DataFrame = {
    val enc = encQuads(qd)
    def slice(preds: Seq[String]) = enc.filter(col("p").isin(preds: _*))
      .select(col("s").as("sub"), col("o").as("sup"))
    val graphs = qd.select(col("g")).distinct()
    p match {
      // the one-hop forms stay ordinary graph-aware patterns — no
      // encoding needed, the quad scan emits ?g directly
      case PathAlt(s, preds, o) =>
        patternDf(qd.filter(col("p").isin(preds: _*)),
          TriplePattern(s, Var("__altp"), o), Some(gn)).drop("__altp")
      case NegPath(s, preds, o) =>
        patternDf(qd.filter(!col("p").isin(preds: _*)),
          TriplePattern(s, Var("__negp"), o), Some(gn)).drop("__negp")
      case PathSeq(s, steps, o) if steps.exists(_.alts.size > 1) =>
        // same union-of-branches expansion as the default-graph case,
        // each branch re-entering the graph-aware compile
        val combos = steps.foldLeft(Seq(Seq.empty[(String, Boolean)])) {
          (acc, st) => acc.flatMap(pre => st.alts.map(pre :+ _))
        }
        padUnion(combos.map(c => compileGraphPath(qd, gn,
          PathSeq(s, c.map(a => PathStep(a._1, a._2)), o))))
      case PathSeq(s, steps, o) =>
        // the BGP-chain desugar with the graph column riding every
        // hop — all hops of one solution align on one named graph
        val terms: Seq[Term] =
          s +: (1 until steps.size).map(i => Var(s"__path$i")) :+ o
        val patterns = steps.zipWithIndex.map { case (st, i) =>
          if (st.inverse) TriplePattern(terms(i + 1), Iri(st.pred), terms(i))
          else TriplePattern(terms(i), Iri(st.pred), terms(i + 1))
        }
        val df = compileGraphBgp(qd, Var(gn), patterns)
        df.drop(df.columns.filter(_.startsWith("__path")): _*)
      case PathPlus(s, preds, o) =>
        projectGraphPathEndpoints(
          plusPairsOverG(graphs, slice(preds), s, o), gn, s, o)
      case PathStar(s, preds, o) =>
        projectGraphPathEndpoints(
          plusPairsOverG(graphs, slice(preds), s, o)
            .unionByName(zeroPairsG(qd, s, o)).distinct(), gn, s, o)
      case PathZeroOne(s, preds, o) =>
        projectGraphPathEndpoints(
          slice(preds).unionByName(zeroPairsG(qd, s, o)).distinct(),
          gn, s, o)
      case PathRange(s, preds, mn, mx, o) if mx < 0 =>
        rangeMinPairsG(qd, graphs, slice(preds), mn, gn, s, o)
      case PathRange(s, preds, mn, mx, o) =>
        rangePairsG(qd, slice(preds), mn, mx, gn, s, o)
      case PathSeqRange(s, steps, mn, mx, o) if mx < 0 =>
        rangeMinPairsG(qd, graphs, seqEdges(enc, steps), mn, gn, s, o)
      case PathSeqRange(s, steps, mn, mx, o) =>
        rangePairsG(qd, seqEdges(enc, steps), mn, mx, gn, s, o)
      case PathSeqMod(s, steps, mod, o) =>
        val edges = seqEdges(enc, steps)
        mod match {
          case '+' => projectGraphPathEndpoints(
            plusPairsOverG(graphs, edges, s, o), gn, s, o)
          case '*' => projectGraphPathEndpoints(
            plusPairsOverG(graphs, edges, s, o)
              .unionByName(zeroPairsG(qd, s, o)).distinct(), gn, s, o)
          case _ => projectGraphPathEndpoints(
            edges.unionByName(zeroPairsG(qd, s, o)).distinct(), gn, s, o)
        }
      case other => throw new IllegalArgumentException(
        s"GraphPath: not a path pattern: $other")
    }
  }

  /** [[rangePairs]] over graph-encoded edges. */
  private def rangePairsG(qd: DataFrame, edges: DataFrame, mn: Int, mx: Int,
                          gn: String, s: Term, o: Term): DataFrame = {
    val hops = ((mn max 1) to mx).map(kHopCompose(edges, _)) ++
      (if (mn == 0) Seq(zeroPairsG(qd, s, o)) else Nil)
    projectGraphPathEndpoints(
      hops.reduceLeft(_.unionByName(_)).distinct(), gn, s, o)
  }

  /** [[rangeMinPairs]] over graph-encoded edges — same prefix ∘
    * closure composition; bound-endpoint filters compare the DECODED
    * node half, closure seeding goes per graph.
    */
  private def rangeMinPairsG(qd: DataFrame, graphs: DataFrame,
                             edges: DataFrame, mn: Int, gn: String,
                             s: Term, o: Term): DataFrame = {
    if (mn <= 0)
      projectGraphPathEndpoints(plusPairsOverG(graphs, edges, s, o)
        .unionByName(zeroPairsG(qd, s, o)).distinct(), gn, s, o)
    else if (mn == 1)
      projectGraphPathEndpoints(
        plusPairsOverG(graphs, edges, s, o), gn, s, o)
    else {
      val prefix0 = kHopCompose(edges, mn - 1)
      val prefix = (s match {
        case Iri(sv) => prefix0.filter(nodeOf(col("sub")) === sv)
        case l: Lit => prefix0.filter(nodeOf(col("sub")) === l.lexical)
        case _ => prefix0
      }).distinct()
      val closure = (o match {
        case Iri(_) => plusPairsOverG(graphs, edges, Var("__prm_l"), o)
        case _ => graft.inference.Closure.transitive(edges)
      }).select(col("sub").as("mid"), col("sup"))
      val pairs = prefix.select(col("sub"), col("sup").as("mid"))
        .join(closure, "mid")
        .select(col("sub"), col("sup")).distinct()
      projectGraphPathEndpoints(pairs, gn, s, o)
    }
  }

  /** ASK query form: one row, one boolean column. The underlying
    * check is limit-1 short-circuited (isEmpty), so the match scan
    * stops at the first solution at any scale.
    */
  def ask(triples: DataFrame, where: Pattern): DataFrame = {
    val nonEmpty = !compilePattern(triples, where).isEmpty
    triples.sparkSession.createDataFrame(Seq(Tuple1(nonEmpty))).toDF("ask")
  }

  /** CONSTRUCT query form: instantiate the template for every
    * solution, union the per-template slices, and emit the resulting
    * GRAPH as a set of (s, p, o) rows (term-typing columns are not
    * reconstructable from lexical bindings — documented subset).
    */
  def construct(triples: DataFrame, template: Seq[TriplePattern],
                where: Pattern): DataFrame =
    constructSlices(triples, template, where)
      .select("s", "p", "o").distinct()

  /** [[construct]] with the term-typing columns the serializers need
    * (o_num, o_is_iri, lang), derived from the TEMPLATE: a template
    * IRI object is a resource, a template literal carries its
    * language tag, and a variable binding serializes as a plain
    * literal (its source typing is not reconstructable from the
    * lexical binding — same documented subset as [[construct]]).
    * This is the query→RDF composition the reference exposes as its
    * "query the graph, respond in RDF" endpoint
    * (pidb-rdf-import RDFEndpoint.java:100 /cypheronrdf): feed the
    * result straight to NTriples.format / Turtle.format.
    */
  def constructTyped(triples: DataFrame, template: Seq[TriplePattern],
                     where: Pattern): DataFrame =
    constructSlices(triples, template, where).distinct()

  /** §16.2.1 (and Update §3.1.3, which shares the rule): a blank node
    * in a CONSTRUCT/INSERT TEMPLATE mints a fresh blank node per
    * solution, shared across the template's triples for the same
    * label. The parser encodes template bnode labels as __bn* vars;
    * any such var the solution frame does not itself bind gets a
    * per-solution node column here. The id is the hash of the full
    * binding row plus a duplicate index (row_number within the hash
    * group — group size is the solution's multiplicity, so the window
    * never sees skew beyond duplicate-solution counts), so identical
    * solutions still mint distinct nodes and the output is
    * run-deterministic. Zero cost when the template has no blank
    * nodes. Returns the extended frame plus the minted names.
    */
  private[sparql] def mintTemplateBnodes(df0: DataFrame,
      template: Seq[TriplePattern]): (DataFrame, Set[String]) = {
    val freshBnodes = template.flatMap(tp => Seq(tp.s, tp.p, tp.o))
      .collect {
        case Var(n) if n.startsWith("__bn") && !df0.columns.contains(n) => n
      }.distinct
    val df =
      if (freshBnodes.isEmpty) df0
      else {
        val solHash =
          if (df0.columns.isEmpty) lit("0")
          else md5(to_json(struct(df0.columns.map(col): _*)))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("__sol_h")).orderBy(lit(1))
        val withId = df0.withColumn("__sol_h", solHash)
          .withColumn("__sol_i", row_number().over(w))
        freshBnodes.foldLeft(withId) { (d, n) =>
          // recover the user-facing label: `_:c` parses to __bn_c,
          // bracketed lists to __bn<counter>
          val label =
            if (n.startsWith("__bn_")) n.stripPrefix("__bn_")
            else "b" + n.stripPrefix("__bn")
          d.withColumn(n, concat(lit("_:" + label + "-"),
            substring(col("__sol_h"), 1, 12), lit("-"), col("__sol_i")))
        }.drop("__sol_h", "__sol_i")
      }
    (df, freshBnodes.toSet)
  }

  private def constructSlices(triples: DataFrame, template: Seq[TriplePattern],
                              where: Pattern): DataFrame = {
    val df0 = compilePattern(triples, where)
    val (df, freshBnodes) = mintTemplateBnodes(df0, template)
    def termCol(t: Term): Column = t match {
      // a template var the WHERE never binds: the allBound filter
      // already empties this slice — emit a typed null so the select
      // still resolves
      case Var(n) =>
        if (df.columns.contains(n)) col(n) else lit(null).cast("string")
      case Iri(x) => lit(x)
      case Lit(lex, _, _) => lit(lex)
      case Undef => lit(null).cast("string")
    }
    def typing(t: Term): (Column, Column) = t match {
      case Iri(_) => (lit(true), lit(null).cast("double"))
      // a minted blank node is a resource: the serializers key bnode
      // syntax off (o_is_iri && startsWith("_:"))
      case Var(n) if freshBnodes.contains(n) =>
        (lit(true), lit(null).cast("double"))
      case Lit(_, num, _) =>
        (lit(false), num.map(n => lit(n): Column)
          .getOrElse(lit(null).cast("double")))
      case _ => (lit(false), lit(null).cast("double"))
    }
    // a lang-tagged template literal carries its tag into the built
    // graph; variables contribute no tag (the pair relation is lexical)
    def langOf(t: Term): Column = t match {
      case l: Lit if l.lang.isDefined => lit(l.lang.get)
      case _ => lit(null).cast("string")
    }
    // §16.2: a template triple instantiates only from solutions where
    // ALL its variables are bound — an OPTIONAL-unbound var (null or
    // the N/A sentinel) omits THAT triple while the solution still
    // feeds the template's other triples
    def allBound(tp: TriplePattern): Column =
      Seq(tp.s, tp.p, tp.o).collect { case Var(n) => n }.distinct
        .map(n =>
          if (df.columns.contains(n)) !unboundCol(df, n) else lit(false))
        .foldLeft(lit(true))(_ && _)
    template.map { tp =>
      val (isIri, num) = typing(tp.o)
      df.filter(allBound(tp))
        .select(termCol(tp.s).as("s"), termCol(tp.p).as("p"),
          termCol(tp.o).as("o"), num.as("o_num"),
          isIri.as("o_is_iri"), langOf(tp.o).as("lang"))
    }.reduce(_.unionAll(_))
  }

  /** §11.4: HAVING may reference an aggregate ABSENT from the SELECT
    * projection — synthesize hidden aggregate columns for those,
    * filter, then drop the helpers (they never reach projection:
    * SELECT * filters the __hv prefix like other internals). Shared by
    * [[run]] and the PerGraphGlobalAgg fill-then-HAVING path.
    */
  private def hiddenHavingAggs(q: SelectQuery): Seq[Agg] = {
    def needs(e: Expr, acc: Seq[Agg]): Seq[Agg] = e match {
      case HavingAggCmp(op, v, _, _)
          if !(q.aggregates ++ acc).exists(a =>
            a.op == op && a.v.map(_.name) == v.map(_.name) && a.expr.isEmpty) =>
        acc :+ Agg(op, v, s"__hv${acc.size}", " ")
      case And(a, b) => needs(b, needs(a, acc))
      case Or(a, b) => needs(b, needs(a, acc))
      case _ => acc
    }
    q.having.foldLeft(Seq.empty[Agg])((acc, e) => needs(e, acc))
  }

  /** HAVING constraint over group/aggregate output columns: the
    * referenced "variables" are aggregate aliases or group keys, whose
    * columns are typed — compare them directly.
    */
  private def havingColumn(e: Expr, aggs: Seq[Agg]): Column = e match {
    case Cmp(op, v, value) =>
      applyCmp(op, col(v.name),
        value.num.map(n => lit(n): Column).getOrElse(lit(value.lexical)))
    // direct-aggregate form (W3C agg08): resolve to the projection
    // aggregate with the same (op, argument) and compare its typed
    // output column — re-aggregating here would double the shuffle
    // for a value the frame already carries
    case HavingAggCmp(op, v, c, value) =>
      val alias = aggs.find(a =>
          a.op == op && a.v.map(_.name) == v.map(_.name) && a.expr.isEmpty)
        .map(_.alias)
        .getOrElse(throw new IllegalArgumentException(
          s"HAVING aggregate $op(${v.map("?" + _.name).getOrElse("*")}) " +
            "must also appear in the SELECT projection"))
      applyCmp(c, col(alias),
        value.num.map(n => lit(n): Column).getOrElse(lit(value.lexical)))
    // general expression forms (`HAVING (SUM(?s)/COUNT(?e) > n)`,
    // `HAVING (SUM(?s) - MAX(?s) > 0)`): aggregate calls were lifted
    // to hidden aliases at parse time, so both sides evaluate as
    // arithmetic over the aggregated frame's typed columns
    case ExprCmp(op, e, value) =>
      val rhs = value.num.map(n => lit(n): Column)
        .getOrElse(lit(value.lexical).try_cast("double"))
      applyCmp(op, havingNum(e), rhs)
    case CmpVV(op, l, r) => applyCmp(op, havingNum(l), havingNum(r))
    case And(a, b) => havingColumn(a, aggs) && havingColumn(b, aggs)
    case Or(a, b) => havingColumn(a, aggs) || havingColumn(b, aggs)
    case Not(x) => !havingColumn(x, aggs)
    case other =>
      throw new IllegalArgumentException(
        s"HAVING supports comparisons over aliases, got $other")
  }

  /** Numeric evaluation of a HAVING expression over the AGGREGATED
    * frame: aggregate outputs are typed columns (or lexical with a
    * value that parses — MIN/MAX unpack), group keys fall back to
    * their lexical parse; a non-numeric value reads null and the
    * comparison drops the group, the SPARQL error posture.
    */
  private def havingNum(e: VExpr): Column = e match {
    case VVar(n) => col(n).try_cast("double")
    case VNum(d) => lit(d)
    case Arith(op, l, r) =>
      val (a, b) = (havingNum(l), havingNum(r))
      op match {
        case AddOp => a + b
        case SubOp => a - b
        case MulOp => a * b
        case DivOp => a / b
      }
    case other =>
      throw new IllegalArgumentException(
        s"HAVING expressions support arithmetic over aggregates, got $other")
  }

  /** Full SELECT pipeline: where → group/aggregate → order → project →
    * distinct → slice. Output columns are the projected variable names
    * (lexical strings) and aggregate aliases (typed).
    */
  def run(triples: DataFrame, q: SelectQuery): DataFrame =
    run(triples, None, q)

  /** Entry point for GRAPH-aware queries over a quad relation
    * (g, s, p, o, o_num, o_is_iri, lang). Without a dataset clause
    * the default graph — what patterns OUTSIDE any GRAPH group
    * match — is the union of the named graphs with set semantics (the
    * store-union dataset configuration most RDF stores ship). With
    * FROM / FROM NAMED the clause REPLACES the dataset (SPARQL 1.1
    * §13.2): FROM graphs compose the default graph, FROM NAMED bounds
    * what GRAPH may match, and an axis with no clause is empty.
    */
  def runQuads(quads: DataFrame, q: SelectQuery): DataFrame = {
    val hasDataset = q.fromGraphs.nonEmpty || q.fromNamed.nonEmpty
    val defaultSrc =
      if (!hasDataset) quads else quads.filter(col("g").isin(q.fromGraphs: _*))
    val named =
      if (!hasDataset) quads else quads.filter(col("g").isin(q.fromNamed: _*))
    run(defaultSrc.drop("g").distinct(), Some(named), q)
  }

  private def run(triples: DataFrame, quads: Option[DataFrame],
                  q: SelectQuery): DataFrame = {
    require(quads.nonEmpty || (q.fromGraphs.isEmpty && q.fromNamed.isEmpty),
      "FROM / FROM NAMED require a quad dataset — run the query via runQuads")
    var df = compilePattern(triples, quads, q.where)

    val hiddenAggs = hiddenHavingAggs(q)
    val allAggs = q.aggregates ++ hiddenAggs

    if (allAggs.nonEmpty) {
      // MIN/MAX aliases aggregated as (num, key, lex) pairs, unpacked
      // after the fold (see minMaxAgg below); keyAliases is the
      // no-numeric-companion twin folding (key, lex) only
      val pairAliases = scala.collection.mutable.ListBuffer.empty[String]
      val keyAliases = scala.collection.mutable.ListBuffer.empty[String]
      val aggCols = allAggs.map { case Agg(op, v, alias, sep, aggExpr, dist) =>
        // W3C §18.5: unbound is an error, and error rows are removed
        // from the aggregate's multiset — fold the engine's unmatched-
        // OPTIONAL "N/A" sentinel to null so Spark's null-skipping
        // aggregation implements exactly that removal (numeric
        // companions are already null when unmatched)
        // companion-aware: a genuine pattern-bound "N/A" literal
        // stays in the multiset; only the fill sentinel is removed
        def lexGuard(name: String): Column =
          when(!unboundCol(df, name), col(name))
        def numOrLex(name: String): Column =
          if (df.columns.contains(numCol(name))) col(numCol(name))
          else lexGuard(name)
        def numOnly(name: String, what: String): Column = {
          require(df.columns.contains(numCol(name)),
            s"$what over ?$name: variable has no numeric binding")
          col(numCol(name))
        }
        def varOf(what: String): Var = v.getOrElse(
          throw new IllegalArgumentException(s"$what(*) is not supported — name a variable"))
        // expression form: evaluate through the numeric BIND machinery
        // per input row, then aggregate the computed column
        def arg(what: String): Column = aggExpr match {
          case Some(e) => numVExpr(df, e)
          case None => numOrLex(varOf(what).name)
        }
        // W3C MIN/MAX order by the engine's ORDER BY total order
        // (numeric value first, lexical fallback): aggregate the
        // (num, lex) PAIR and unpack after the fold, so a string-
        // valued variable aggregates lexically instead of over its
        // all-null numeric companion (found by conformance batch 4);
        // output is the element's LEXICAL form plus its numeric
        // companion — the same dual convention pattern vars use
        // the lexical leg folds on dtSortKey (ORDER BY's instant-
        // aware key): MIN/MAX over mixed-zone xsd:dateTime bindings
        // return the earliest/latest INSTANT, not the lexically-
        // smallest string — for every non-date-shaped string the key
        // IS the lexical form, so plain strings order unchanged
        def minMaxAgg(what: String, isMin: Boolean): Column = {
          val n = varOf(what).name
          if (df.columns.contains(numCol(n))) {
            pairAliases += alias
            val pair = when(!unboundCol(df, n),
              struct(col(numCol(n)).as("num"), dtSortKey(col(n)).as("key"),
                col(n).as("lex")))
            if (isMin) min(pair) else max(pair)
          } else {
            keyAliases += alias
            val pair = when(!unboundCol(df, n),
              struct(dtSortKey(col(n)).as("key"), col(n).as("lex")))
            if (isMin) min(pair) else max(pair)
          }
        }
        // expression arguments evaluate by their STATIC shape:
        // numeric shapes through the arithmetic machinery, string
        // shapes through the lexical one — COUNT(UCASE(?n)) must
        // count strings, not null-parsed numbers
        def typedArg(e: VExpr): Column =
          if (isNumericVExpr(e)) numVExpr(df, e) else strVExpr(df, e)
        val c = op match {
          case Count => v.map(vr => count(lexGuard(vr.name)))
            .orElse(aggExpr.map(e => count(typedArg(e))))
            .getOrElse(count(lit(1)))
          case CountDistinct => aggExpr match {
            // COUNT(DISTINCT expr): distinct non-error evaluations
            case Some(e) => countDistinct(typedArg(e))
            case None => v match {
              case Some(vr) => countDistinct(lexGuard(vr.name))
              // COUNT(DISTINCT *): distinct full solutions — struct
              // over every visible column (companions excluded; the
              // struct tolerates unbound cells, so no row silently
              // drops the way a multi-arg countDistinct would)
              case None =>
                val vis = df.columns.filterNot(isCompanion).map(col)
                countDistinct(struct(vis.toIndexedSeq: _*))
            }
          }
          case Max => aggExpr.map(e => max(typedArg(e)))
            .getOrElse(minMaxAgg("MAX", isMin = false))
          case Min => aggExpr.map(e => min(typedArg(e)))
            .getOrElse(minMaxAgg("MIN", isMin = true))
          // Sum/Avg over the EMPTY multiset are 0, not unbound (W3C
          // §18.5.1.3-4 define Sum({}) = Avg({}) = 0) — the coalesce
          // only fires when no (bound) value reached the fold
          case Sum if dist => coalesce(
            aggExpr.map(e => sum_distinct(numVExpr(df, e)))
              .getOrElse(sum_distinct(numOnly(varOf("SUM").name, "SUM"))),
            lit(0.0))
          case Sum => coalesce(
            aggExpr.map(e => sum(numVExpr(df, e)))
              .getOrElse(sum(numOnly(varOf("SUM").name, "SUM"))),
            lit(0.0))
          // AVG(DISTINCT): mean of the value SET — sum_distinct over
          // countDistinct, guarded so the empty multiset is 0
          // (§18.5.1.4) instead of a division error
          case Avg if dist =>
            val x = aggExpr.map(e => numVExpr(df, e))
              .getOrElse(numOnly(varOf("AVG").name, "AVG"))
            when(countDistinct(x) > 0, sum_distinct(x) / countDistinct(x))
              .otherwise(lit(0.0))
          case Avg => coalesce(
            aggExpr.map(e => avg(numVExpr(df, e)))
              .getOrElse(avg(numOnly(varOf("AVG").name, "AVG"))),
            lit(0.0))
          case GroupConcat =>
            // sort before joining: collect order is partition-
            // dependent, the sorted join is deterministic anywhere;
            // DISTINCT collects the value SET. An expression argument
            // (GROUP_CONCAT(UCASE(?n))) concatenates its string form
            val src = aggExpr.map(e => typedArg(e).cast("string"))
              .getOrElse(lexGuard(varOf("GROUP_CONCAT").name))
            array_join(array_sort(
              if (dist) collect_set(src) else collect_list(src)), sep)
          case Sample =>
            // SPARQL permits any group member; the lexical minimum is
            // the deterministic choice (same answer on any cluster)
            min(lexGuard(varOf("SAMPLE").name))
        }
        c.as(alias)
      }
      df =
        if (q.groupBy.nonEmpty)
          df.groupBy(q.groupBy.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
        else df.agg(aggCols.head, aggCols.tail: _*)
      // unpack MIN/MAX pair folds: lexical form under the alias, the
      // element's numeric value as its companion (null ⇒ unbound)
      pairAliases.foreach { a =>
        df = df.withColumn(numCol(a), col(a).getField("num"))
          .withColumn(a, col(a).getField("lex"))
      }
      keyAliases.foreach { a =>
        df = df.withColumn(a, col(a).getField("lex"))
      }
      // HAVING compares the typed aggregate outputs directly (they
      // carry real numeric types, unlike pattern bindings, which
      // compare through their lexical/companion split)
      q.having.foreach(e => df = df.filter(havingColumn(e, allAggs)))
      if (hiddenAggs.nonEmpty)
        df = df.drop(hiddenAggs.flatMap(a =>
          Seq(a.alias, numCol(a.alias))): _*)
    }

    // SPARQL evaluates DISTINCT before ORDER BY: project (keeping the
    // numeric companions of projected vars — functionally dependent, so
    // they don't change distinctness — plus any non-projected sort
    // vars, legal only without DISTINCT), then distinct, then sort,
    // then slice, then drop the helper columns.
    val projCols: Seq[String] =
      if (q.projection.nonEmpty) q.projection
      // blank nodes parse to `__bn*` non-distinguished variables
      // (§4.1.4): they join like variables but never reach SELECT *;
      // the other reserved internal prefixes (hidden sort keys,
      // lifted §18.2.4.4 aggregates, HAVING helpers) stay hidden too
      else df.columns.filterNot(isCompanion)
        .filterNot(n => n.startsWith("__bn") || n.startsWith("__ord") ||
          n.startsWith("__sagg") || n.startsWith("__hv")).toSeq
    // SPARQL §18.2.4: projecting a variable NO pattern binds is legal
    // and yields the unbound value on every row — materialize it as
    // the engine's "N/A" sentinel (the unmatched-OPTIONAL fill)
    // instead of failing resolution (found by SparqlFuzzSpec)
    projCols.filterNot(df.columns.contains).foreach { c =>
      df = df.withColumn(c, lit("N/A"))
    }
    // §15.1 error algebra: a sort key bound NOWHERE in the query is
    // constant-unbound — every row compares equal, so the key orders
    // nothing and is dropped (not an analysis crash). A key that IS
    // in scope but unavailable under DISTINCT stays a loud error
    // below (§18.2.5.3 requires DISTINCT sort keys to be projected).
    val sortExtras =
      if (q.distinct) Seq.empty
      else q.orderBy.map(_._1).filterNot(projCols.contains)
        .filter(df.columns.contains)
    val preProjCols = df.columns.toSet
    val keep = (projCols ++ sortExtras).flatMap { c =>
      Seq(c) ++ (if (df.columns.contains(numCol(c))) Seq(numCol(c)) else Nil) ++
        // the §15.1 term-kind tier sorts on the is-IRI companion —
        // keep it for sort vars; under DISTINCT it is carried THROUGH
        // the distinct below (grouped out, max-aggregated back) so
        // SELECT DISTINCT … ORDER BY over mixed term kinds still
        // tiers instead of falling back to untiered lexical order
        (if (q.orderBy.exists(_._1 == c) &&
          df.columns.contains(iriCol(c))) Seq(iriCol(c)) else Nil)
    }
    df = df.select(keep.distinct.map(col): _*)
    if (q.distinct) {
      // distinctness is defined over the PROJECTION (§18.2.5.2): the
      // numeric companions are functionally dependent on the lexical
      // forms so a plain distinct over them is safe, but the is-IRI
      // tier companion must not split groups — group by everything
      // else and re-derive it (max: if any surviving duplicate was an
      // IRI the row tiers as one; lexical collisions across kinds are
      // the engine's standing lexical-distinctness convention)
      val tierCols = df.columns.filter(isIriCol).toSeq
      if (tierCols.isEmpty) df = df.distinct()
      else {
        val groupCols = df.columns.filterNot(tierCols.contains).toSeq
        val aggs = tierCols.map(c => max(col(c)).as(c))
        df = df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
      }
    }
    if (q.orderBy.nonEmpty) {
      // order by the numeric companion THEN the lexical form: a
      // numeric binding sorts by value, while a string/IRI binding
      // (whose companion is all-NULL — sorting on it alone was a
      // silent no-op, found by the W3C order-mixed case) falls
      // through to lexical order; Spark's null placement (asc: first,
      // desc: last) keeps each run deterministic
      // the lexical key is dateTime-aware: date-shaped values sort by
      // their UTC instant (mixed-zone bindings order correctly),
      // everything else by the raw lexical form
      // §15.1 total order across TERM KINDS first: unbound < blank
      // node < IRI < literal — derivable only where the frame carries
      // the term-kind companion (object-position bindings, the one
      // place kinds mix); single-kind columns get a constant tier, so
      // all-literal / all-IRI keys sort exactly as before
      val sorts = q.orderBy.filter { case (v, _) =>
        // bound-nowhere keys were dropped from sortExtras above —
        // skip them here too (constant-unbound orders nothing); a key
        // that WAS in scope but fell to the DISTINCT projection wall
        // stays a loud error (§18.2.5.3)
        df.columns.contains(v) || {
          require(!preProjCols.contains(v),
            s"ORDER BY ?$v: a DISTINCT query may only sort on projected variables")
          false
        }
      }
      df = df.orderBy(tieredSortKeys(df, sorts): _*)
    }
    if (q.offset > 0) df = df.offset(q.offset.toInt)
    if (q.limit >= 0) df = df.limit(q.limit.toInt)
    df.select(projCols.map(col): _*)
  }

  /** The §15.1-aware sort keys for a list of (var, ascending) pairs:
    * term-kind tier where the is-IRI companion is available (unbound
    * < blank < IRI < literal), then numeric companion, then the
    * dateTime-aware lexical key. Shared by the query-final ORDER BY
    * and the per-graph window of [[Ast.PerGraphLimited]].
    */
  private[sparql] def tieredSortKeys(df: DataFrame,
      orderBy: Seq[(String, Boolean)]): Seq[Column] =
    orderBy.flatMap { case (v, asc) =>
      val tier =
        if (df.columns.contains(iriCol(v)))
          Seq(when(unboundCol(df, v), lit(0))
            .when(coalesce(col(iriCol(v)), lit(false)) &&
              col(v).startsWith("_:"), lit(1))
            .when(coalesce(col(iriCol(v)), lit(false)), lit(2))
            .otherwise(lit(3)))
        else Seq.empty[Column]
      val keys = tier ++
        (if (df.columns.contains(numCol(v)))
          Seq(col(numCol(v)), dtSortKey(col(v)))
        else Seq(dtSortKey(col(v))))
      keys.map(c => if (asc) c.asc else c.desc)
    }

  /** DESCRIBE execution (SPARQL 1.1 §16.4): the described set is
    * every constant target plus every binding of each listed variable
    * in the WHERE pattern's solutions, deduplicated, union-described.
    * The single-constant no-WHERE form keeps [[graft.rdf.Endpoint
    * .describe]]'s pushdown equality filters (the node-lookup
    * endpoint path); everything else builds ONE target frame and
    * feeds [[graft.rdf.Endpoint.describeAll]]'s two semi-join arms —
    * a million targets cost two keyed joins, not a million scans.
    * Literal-valued bindings drop out naturally: the arms join on
    * subject / IRI-object positions, which literals never occupy.
    */
  def describe(triples: DataFrame,
               targets: Seq[Either[String, String]],
               where: Option[Pattern]): DataFrame = {
    val consts = targets.collect { case Left(i) => i }.distinct
    val vars = targets.collect { case Right(v) => v }.distinct
    if (vars.isEmpty && consts.size == 1)
      graft.rdf.Endpoint.describe(triples, consts.head)
    else {
      val spark = triples.sparkSession
      import spark.implicits._
      val sol = where.filter(_ => vars.nonEmpty)
        .map(w => compilePattern(triples, w))
      val varTargets = sol.toSeq.flatMap(s =>
        vars.filter(s.columns.contains)
          .map(v => s.select(col(v).cast("string").as("t"))))
      val constTargets =
        if (consts.isEmpty) Nil else Seq(consts.toDF("t"))
      (constTargets ++ varTargets).reduceOption(_ unionAll _) match {
        case Some(t) => graft.rdf.Endpoint.describeAll(triples, t)
        case None => // no targets can bind: empty result, full schema
          graft.rdf.Endpoint.describeAll(triples,
            spark.emptyDataset[String].toDF("t"))
      }
    }
  }
}
