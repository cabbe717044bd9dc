package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, Cast, Divide, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, IsNotNull, LessThan, LessThanOrEqual, Literal, NamedExpression}
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** Materialized-view substitution — the reference's MV rewrite family
  * (ref: rel/rules/materialize/MaterializedViewRules.java:1 +
  * plan/SubstitutionVisitor.java:1, lattices materialize/Lattice
  * .java:1), scoped as SURVEY §7 prescribes: single-source aggregate
  * ROLLUP first.
  *
  * `register` materializes `source.groupBy(keys).agg(partials)` into
  * the Spark cache; a user-provided optimizer rule then rewrites any
  * later `Aggregate` over the same source whose grouping keys are a
  * subset of the MV's keys and whose aggregates are rollup-able
  * (SUM→SUM of partial sums, COUNT(*)→SUM of partial counts, MIN/MAX→
  * MIN/MAX of partials) to aggregate the CACHED MV instead of
  * rescanning the source.
  *
  * The source may be a single file scan OR inner equi-joins of file
  * scans (the lattice star-join case): matching is by canonical
  * signature — leaf scan paths + the set of join column pairs, both
  * name-based — so column-pruning Projects, broadcast hints, aliases,
  * and join reorder on the query side don't break recognition
  * (plan/SubstitutionVisitor.java's canonicalize-then-unify). Both
  * compensation directions are supported: a query predicate IMPLYING
  * the MV's re-applies residually on the rollup (filter subsumption),
  * and a strictly WIDER single-range query unions the cached partials
  * with a partial aggregate over only the residual slice of the source
  * (the reference's partial-coverage union rewrite).
  *
  * At 100 TB this is the lattice play: one wide pre-aggregation pass
  * (keys × partials, typically 10⁴-10⁶ rows) absorbs every subsequent
  * rollup query — the fact table is scanned once, not per query.
  *
  * Scope guard: the substitution target stored per MV is the
  * cache-resolved plan (an InMemoryRelation leaf), so rewritten plans
  * contain no file-source relation and the rule cannot re-fire on its
  * own output — fixed-point safe by construction. */
object MaterializedViews {

  /** Canonical shape of an MV's defining query: the multiset of leaf
    * scans (by root path) and the set of inner equi-join column pairs,
    * both name-based — so a later query matches regardless of column
    * pruning Projects, broadcast hints, aliases, or join order
    * (the SubstitutionVisitor's canonicalize-then-match, tolerant of
    * the projections Catalyst interleaves). */
  private final case class Signature(
      leaves: Seq[Set[String]], joinPairs: Set[(String, String)])

  private final case class MvDef(
      name: String,
      signature: Signature,
      keys: Set[String],
      sums: Set[String],
      mins: Set[String],
      maxs: Set[String],
      approxes: Set[String],
      hasCount: Boolean,
      target: LogicalPlan,
      targetOut: Map[String, Attribute],
      keysSeq: Seq[String],
      sumsSeq: Seq[String],
      minsSeq: Seq[String],
      maxsSeq: Seq[String],
      approxSeq: Seq[String],
      mvDf: DataFrame,
      // the MV's own defining filter, as literal-folded conjuncts; a
      // query substitutes only when its predicate IMPLIES this one —
      // or, for a strictly WIDER query range, via union compensation
      filterConjuncts: Seq[Expression],
      // the defining source with its filters stripped: the relation the
      // union-compensation residual slice scans
      baseDf: DataFrame,
      // the defining source's output types: a refresh delta is cast to
      // these before partial-aggregating, so a cast-projected source
      // (e.g. a money column normalized to DECIMAL below the rollup)
      // folds deltas in at the SAME type — otherwise unionByName's set-op
      // widening would silently degrade an exact decimal partial to
      // double
      srcTypes: Map[String, org.apache.spark.sql.types.DataType],
      // derived measures (the reference lattice's measure EXPRESSIONS,
      // e.g. revenue = price * (1 - discount)): canonical folded SQL of
      // the defining expression → partial name, plus the re-applicable
      // unresolved Columns for delta refreshes
      sumDefs: Map[String, String] = Map.empty,
      sumExprCols: Seq[(String, org.apache.spark.sql.Column)] = Nil,
      // pending stream-appended delta generations (cached partial-agg
      // frames whose targets are unioned into `target`); compaction
      // merges them back into one generation
      gens: Seq[DataFrame] = Nil,
      // false once a delta that is NOT backed by the source files has
      // been folded in (stream maintenance, ad-hoc refresh): the cached
      // partials stay exact, but union compensation's residual FILE scan
      // could no longer see those rows — so unionTarget refuses such MVs
      unionSafe: Boolean = true,
      // count-only partial columns (__mv_cntn without a sum side): a
      // COUNT(x) over a non-summable column (e.g. a string) rolls up
      // from these without register ever computing SUM over it
      cntnsSeq: Seq[String] = Nil,
      // materialized tile size: the substitution's cost key — among
      // MVs that can answer a query, the smallest adequate tile wins
      // (the reference's lattice tile selection, materialize/Lattice
      // .java getTile — pick the least-cost materialization)
      rowCount: Long = Long.MaxValue,
      // durable home of this tile (persistTile/adoptTiles): partials +
      // metadata live here across sessions; DML invalidation deletes it
      durableDir: Option[String] = None,
      // number of gen-N increments currently on disk under durableDir
      // (stream write-through): compaction's full swap resets to 0; a
      // new gen appends at this index so adopted-but-uncompacted gens
      // on disk are never overwritten
      durableGens: Int = 0) {
    def cntns: Set[String] = cntnsSeq.toSet
  }

  private val registry = new ConcurrentHashMap[String, MvDef]()

  /** (signature, filters) of a plan that is projects/filters over inner
    * equi-joins of file scans; None for anything else. Name-based and
    * order-insensitive: leaves sort canonically, join pairs normalize
    * to sorted column-name tuples. */
  private def signatureOf(p: LogicalPlan): Option[(Signature, Seq[Expression])] = p match {
    // bare attributes, or identity-preserving same-name casts (the
    // loader's TIMESTAMP_NTZ→TIMESTAMP normalization projects every
    // column through such a cast)
    case Project(ps, ch) if ps.forall {
      case _: AttributeReference => true
      case Alias(Cast(a: AttributeReference, _, _, _), n) => a.name == n
      case _ => false
    } => signatureOf(ch)
    case logical.Filter(cond, ch) =>
      signatureOf(ch).map { case (sig, fs) => (sig, cond +: fs) }
    case a: logical.SubqueryAlias => signatureOf(a.child)
    // a temp-view source carries a View wrapper under its alias — the
    // same name-transparency argument as SubqueryAlias applies
    case v: logical.View => signatureOf(v.child)
    case h: logical.ResolvedHint => signatureOf(h.child)
    case j: Join if j.joinType == Inner =>
      for {
        cond <- j.condition
        pairs <- equiPairs(cond)
        l <- signatureOf(j.left)
        r <- signatureOf(j.right)
      } yield (Signature(
        (l._1.leaves ++ r._1.leaves).sortBy(_.toSeq.sorted.mkString("|")),
        l._1.joinPairs ++ r._1.joinPairs ++ pairs), l._2 ++ r._2)
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation =>
        Some((Signature(Seq(fs.location.rootPaths.map(_.toString).toSet), Set.empty),
          Seq.empty))
      case _ => None
    }
    case _ => None
  }

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitAnd(l) ++ splitAnd(r)
    case other => Seq(other)
  }

  /** A conjunction of attribute=attribute predicates as normalized
    * name pairs; None if the condition has any other shape. */
  private def equiPairs(cond: Expression): Option[Set[(String, String)]] = cond match {
    case And(l, r) => for { a <- equiPairs(l); b <- equiPairs(r) } yield a ++ b
    case EqualTo(a: AttributeReference, b: AttributeReference) =>
      Some(Set(if (a.name <= b.name) (a.name, b.name) else (b.name, a.name)))
    case _ => None
  }

  /** Register + materialize an MV over `source` (a file-based scan,
    * optionally FILTERED — the reference's MaterializedViewFilterScanRule
    * family: a query substitutes when its own predicate implies the
    * MV's, with the query predicate re-applied on the rollup as the
    * compensating filter). Partials: sum per `sums` column, min/max per
    * `mins`/`maxs`, an HLL sketch per `approxDistincts` column (answers
    * APPROX_COUNT_DISTINCT rollups only — never exact ones), and a group
    * count. Returns the materialized frame (already cached).
    *
    * Exactness invariants the registry enforces, so ANY later matching
    * rollup may be answered from ANY registered MV:
    *   - every carried partial except the HLL sketches is exact, and the
    *     sketches only ever substitute an already-approximate function.
    *     One recombination caveat: AVG answers as Σsum/Σcount through
    *     DOUBLE division (ulp-level vs the unrewritten Average's decimal
    *     division — MaterializedViewSpec pins the 1e-9 contract), so a
    *     hash-compared surface should cast AVG outputs to double, as
    *     every oracle query here does;
    *   - a source with duplicate output column names is rejected here
    *     (all matching is name-based — ambiguity would be unsound);
    *   - staleness: TableDml's mutating writes drop every MV reading
    *     the written path before the write returns (invalidatePath), so
    *     a registered MV always reflects the live table. Appends are
    *     the one algebraically foldable write: TableDml.insertInto
    *     refreshes single-leaf MVs in place (foldAppendOrInvalidate)
    *     and drops join MVs, whose delta would need the join partners. */
  def register(spark: SparkSession, name: String, source: DataFrame,
      keys: Seq[String], sums: Seq[String],
      mins: Seq[String] = Nil, maxs: Seq[String] = Nil,
      approxDistincts: Seq[String] = Nil,
      sumExprs: Seq[(String, org.apache.spark.sql.Column)] = Nil,
      counts: Seq[String] = Nil): DataFrame =
    maintLock.synchronized {
    val (signature, srcFilters) = signatureOf(source.queryExecution.analyzed)
      .getOrElse(throw new IllegalArgumentException(
        "MV source must be projects/filters over inner equi-joins of file scans"))
    // every matching/rebinding step downstream (implication, residual
    // rebind, targetOut) is name-keyed; a join source carrying two
    // identically-named columns would let a query predicate absorb
    // against the WRONG table's column — an unsound substitution. Fail
    // loudly at registration instead.
    val outNames = source.queryExecution.analyzed.output.map(_.name)
    val dupNames = outNames.groupBy(identity).collect { case (n, vs) if vs.size > 1 => n }
    require(dupNames.isEmpty,
      s"MV source has ambiguous duplicate output columns ${dupNames.mkString(", ")}: " +
        "alias one side before registering (matching is name-based)")
    // literal-fold the defining filter so register-time (analyzed, casts
    // unfolded) conjuncts compare equal to query-time (optimized, folded)
    // conjuncts
    val filterConjuncts = srcFilters.flatMap(splitAnd).map(foldLiterals)
    // the unfiltered base relation — union compensation scans ONLY the
    // residual slice of it when a query's range is wider than the MV's
    val baseDf =
      if (filterConjuncts.isEmpty) source
      else org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
        source.queryExecution.analyzed.transformUp {
          case f: logical.Filter => f.child
        })

    // derived measures: canonicalize each defining expression against
    // the source (analyzed + literal-folded SQL) so a query-side
    // aggregate argument can be matched by name-based expression
    // equality (the reference lattice's measure expressions)
    val sumDefs = sumExprs.map { case (n, c) =>
      val e = source.select(c.as(n)).queryExecution.analyzed
        .asInstanceOf[Project].projectList.head.asInstanceOf[Alias].child
      foldLiterals(e).sql -> n
    }.toMap
    val cols = partialAggCols(sums, mins, maxs, approxDistincts, sumExprs, counts)
    val mv = source.groupBy(keys.map(col): _*).agg(cols.head, cols.tail: _*)
    // a re-registration under an existing name CARRIES the prior durable
    // home forward (ADVICE r13): silently detaching it would leave a
    // stale old-definition tile on disk that a later session re-adopts
    val prior = Option(registry.get(name))
    val carried = prior.flatMap(_.durableDir)
    // a fresh registration recomputes partials from the CURRENT files —
    // any queued deferred fold would re-add rows those files already
    // carry; cancel it
    bumpEpoch(name)
    val out = store(spark, name, signature, keys, sums, mins, maxs, approxDistincts, mv,
      replacedAll = prior.toSeq.flatMap(d => d.mvDf +: d.gens),
      filterConjuncts, baseDf, sumDefs = sumDefs, sumExprCols = sumExprs,
      counts = counts, durableDir = carried)
    // conf-driven lattice home: tiles registered through a session with
    // spark.graft.lattice.dir set persist durably without explicit
    // persistTile calls (the reference stores EVERY materialization).
    // Without the conf, a carried durable home is re-persisted with the
    // NEW definition so the disk never trails the registry.
    confLatticeDir(spark) match {
      case Some(dir) => persistTile(spark, name, dir): Unit
      case None => carried.foreach(_ => writeDurable(spark, registry.get(name)))
    }
    out
  }

  /** Register-once (the lattice usage pattern: a defining query runs on
    * every dashboard refresh, the tile materializes once): if `name` is
    * already registered with the SAME source signature, keep the live
    * MV and return its frame. A name collision with a DIFFERENT
    * signature re-registers — the same query re-run against another
    * dataset must not silently run unrewritten behind a stale guard. */
  def registerOnce(spark: SparkSession, name: String, source: DataFrame,
      keys: Seq[String], sums: Seq[String],
      mins: Seq[String] = Nil, maxs: Seq[String] = Nil,
      approxDistincts: Seq[String] = Nil,
      sumExprs: Seq[(String, org.apache.spark.sql.Column)] = Nil,
      counts: Seq[String] = Nil): DataFrame =
    maintLock.synchronized {
      // identity = the FULL definition: scan/join signature, the
      // defining filter conjuncts (a differently-filtered slice of the
      // same table is a different MV), every partial list, and the
      // derived-measure expressions by canonical SQL
      val parsed = signatureOf(source.queryExecution.analyzed)
      val qFilters = parsed.toSeq.flatMap(_._2).flatMap(splitAnd)
        .map(e => foldLiterals(e).sql).toSet
      val qSumDefs = sumExprs.map { case (n, c) =>
        foldLiterals(source.select(c.as(n)).queryExecution.analyzed
          .asInstanceOf[Project].projectList.head.asInstanceOf[Alias].child).sql -> n
      }.toMap
      Option(registry.get(name)) match {
        case Some(d) if parsed.map(_._1).contains(d.signature) &&
            d.filterConjuncts.map(_.sql).toSet == qFilters &&
            d.keysSeq == keys && d.sumsSeq == sums && d.minsSeq == mins &&
            d.maxsSeq == maxs && d.approxSeq == approxDistincts &&
            d.cntnsSeq == counts && d.sumDefs == qSumDefs =>
          // the registry is JVM-global but extraOptimizations are
          // per-session: a SECOND session hitting this fast path must
          // still get the rewrite rule installed (ADVICE r12)
          ensureRule(spark)
          // a conf'd lattice home must hold on EVERY registration path:
          // a tile that predates the conf (registered homeless, then
          // re-requested through a configured session) gains its home
          if (d.durableDir.isEmpty)
            confLatticeDir(spark).foreach(dir => persistTile(spark, name, dir): Unit)
          d.mvDf
        case _ => register(spark, name, source, keys, sums, mins, maxs,
          approxDistincts, sumExprs, counts)
      }
    }

  /** Fold foldable subtrees (e.g. the implicit CAST a comparison wraps
    * around a string literal) to bare literals, so analyzed-plan filters
    * are comparable with optimizer-folded query filters. */
  private def foldLiterals(e: Expression): Expression = e.transformUp {
    case f if f.foldable && !f.isInstanceOf[Literal] =>
      Literal.create(f.eval(null), f.dataType)
  }

  /** The partial-aggregate columns an MV carries per group. The HLL
    * sketch partials (ref: profile/ProfilerImpl.java:577-659 — lattice
    * tiles carry HLL for distinct-count rollups) are Datasketches
    * binaries: mergeable across groups via hll_union_agg, so an
    * APPROX_COUNT_DISTINCT rollup never rescans the fact. */
  private def partialAggCols(sums: Seq[String], mins: Seq[String],
      maxs: Seq[String], approxes: Seq[String] = Nil,
      sumExprs: Seq[(String, org.apache.spark.sql.Column)] = Nil,
      counts: Seq[String] = Nil)
      : Seq[org.apache.spark.sql.Column] =
    sums.map(c => sum(col(c)).as(s"__mv_sum_$c")) ++
      sumExprs.map { case (n, c) => sum(c).as(s"__mv_sum_$n") } ++
      sumExprs.map { case (n, c) => count(c).as(s"__mv_cntn_$n") } ++
      // per-column non-null count, so AVG(x) rolls up as
      // SUM(sum_x)/SUM(cntn_x) even when x has NULLs
      sums.map(c => count(col(c)).as(s"__mv_cntn_$c")) ++
      // count-ONLY columns (non-summable types, e.g. COUNT(string_col)):
      // just the non-null count partial, never a SUM over the column
      counts.map(c => count(col(c)).as(s"__mv_cntn_$c")) ++
      mins.map(c => min(col(c)).as(s"__mv_min_$c")) ++
      maxs.map(c => max(col(c)).as(s"__mv_max_$c")) ++
      approxes.map(c => hll_sketch_agg(col(c)).as(s"__mv_hll_$c")) :+
      count(lit(1)).as("__mv_cnt")

  /** Persist `mv`, splice it into the registry, keep the rewrite rule
    * installed; unpersists the MV generation it replaces. The tile is
    * lineage-cut and cached by ONE job (cutAndCache); a fold whose inputs
    * fit one partition (onePartition) adds no shuffle-stage job before
    * it, so a small fold costs that job plus any broadcast its delta's
    * join needs. */
  private def store(spark: SparkSession, name: String, signature: Signature,
      keys: Seq[String], sums: Seq[String], mins: Seq[String],
      maxs: Seq[String], approxes: Seq[String], mv: DataFrame,
      replacedAll: Seq[DataFrame],
      filterConjuncts: Seq[Expression], baseDf: DataFrame,
      unionSafe: Boolean = true,
      sumDefs: Map[String, String] = Map.empty,
      sumExprCols: Seq[(String, org.apache.spark.sql.Column)] = Nil,
      counts: Seq[String] = Nil,
      durableDir: Option[String] = None): DataFrame = {
    // cut the tile's lineage to its file sources BEFORE caching: a later
    // DataFrameWriter append to any source path recaches (Spark's
    // InsertIntoHadoopFsRelationCommand → refreshByPath) every cache
    // entry reading it — a cached tile whose plan still reads the files
    // would silently REBUILD from the post-append live listing, and
    // every algebraic fold on top would then double-count the delta
    // (caught by DmlLatticeSpec's queued-folds case). A checkpointed
    // plan is a LogicalRDD leaf: the recache has no file lineage to
    // rebuild through, so the stored partials are immutable by
    // construction — matching the reference's stored-materialization
    // model (materialize/MaterializationService.java), where a
    // materialization is a TABLE, not a live view of its sources.
    // DISK_ONLY checkpoint blocks: the in-memory copy of the partials
    // is the InMemoryRelation cache built right below — holding the
    // checkpoint RDD in memory too would keep every tile resident TWICE
    // (ADVICE r14); the disk blocks exist only to rebuild evicted cache
    // partitions and to cut lineage
    val (snapped, n) = cutAndCache(mv)

    // cache-resolved plan: the whole aggregate collapses to an
    // InMemoryRelation leaf, which is what we splice into queries
    val target = snapped.queryExecution.withCachedData
    registry.put(name, MvDef(name, signature, keys.toSet, sums.toSet,
      mins.toSet, maxs.toSet, approxes.toSet, hasCount = true, target,
      target.output.map(a => a.name -> a).toMap,
      keys, sums, mins, maxs, approxes, snapped, filterConjuncts, baseDf,
      baseDf.queryExecution.analyzed.output.map(a => a.name -> a.dataType).toMap,
      sumDefs = sumDefs, sumExprCols = sumExprCols,
      gens = Nil, unionSafe = unionSafe, cntnsSeq = counts,
      rowCount = n, durableDir = durableDir))
    // every store caches a fresh checkpoint, so the replaced generations
    // can always unpersist (the sameResult guard is kept for the
    // degenerate case of the same frame instance being re-stored)
    val newPlan = snapped.queryExecution.analyzed
    replacedAll.filterNot(_.queryExecution.analyzed.sameResult(newPlan))
      .foreach(_.unpersist())

    ensureRule(spark)
    snapped
  }

  /** Lineage-cut and cache `df` with ONE job: a LAZY local checkpoint
    * (DISK_ONLY blocks, see store), persisted, then a single pass over
    * the cache's partitions. That pass computes the checkpoint blocks and
    * the InMemoryRelation batches together, and the checkpoint completes
    * when it ends (no partition is left to recompute). The row count
    * comes from the cache's own statistics (the batches' row
    * accumulator): a count() aggregate would add its own exchange and
    * jobs. */
  private def cutAndCache(df: DataFrame): (DataFrame, Long) = {
    val snapped = df.localCheckpoint(false,
      org.apache.spark.storage.StorageLevel.DISK_ONLY)
    snapped.persist()
    val cache = snapped.queryExecution.withCachedData.collectFirst {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r.cacheBuilder
    }.getOrElse(throw new IllegalStateException("persisted frame did not resolve to a cache"))
    cache.cachedColumnBuffers.foreachPartition((_: Iterator[_]) => ())
    (snapped, cache.rowCountStats.value.longValue)
  }

  /** Install the rewrite rule in THIS session's optimizer (idempotent).
    * Sessions are independent: every path that hands a session a live
    * registry entry must run this, including registerOnce's fast path. */
  private def ensureRule(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(MvRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ MvRewrite

  /** Incremental maintenance (ref: materialize/MaterializationService
    * .java — the reference re-populates tiles; here the merge is
    * algebraic): given `delta` = rows APPENDED to the MV's source since
    * registration/last refresh, fold them in without rescanning the
    * source. Every carried partial is a commutative monoid — SUM and
    * the counts merge by SUM, MIN/MAX by MIN/MAX — so
    * refresh(MV, delta) ≡ register(source ∪ delta) exactly, at the
    * cost of aggregating only the delta (the 100 TB nightly-load path:
    * the fact table is never rescanned). Caller contract: delta holds
    * only new rows (append-only source); updates/deletes need DML-side
    * recompute of the affected partitions. */
  /** Serializes registry read-modify-write sections (refresh, append,
    * compaction, drop-and-fold barriers) so a stream micro-batch cannot
    * resurrect an MV a concurrent DML barrier just dropped, and two
    * concurrent appends cannot lose a generation. The rewrite rule's
    * read path stays lock-free (plain ConcurrentHashMap reads);
    * maintenance is rare, so holding the lock across the merge job is
    * acceptable. */
  private val maintLock = new Object

  /** `deltaInFiles`: pass true ONLY when the delta rows are also
    * physically present in the MV's source files (TableDml.insertInto's
    * fold path) — otherwise the MV is marked union-unsafe, because a
    * union-compensation residual scan of the files could not see those
    * rows. */
  def refreshIncremental(spark: SparkSession, name: String, delta: DataFrame,
      deltaInFiles: Boolean = false): DataFrame = maintLock.synchronized {
    val d = Option(registry.get(name)).getOrElse(
      throw new IllegalArgumentException(s"unknown MV: $name"))
    val deltaAgg = deltaPartials(spark, d, delta)
    compactInto(spark, d, Some(deltaAgg), deltaInFiles)
  }

  /** Merge the base generation, any pending stream generations, and an
    * optional fresh delta into ONE generation (a single bounded-by-
    * |MV|+deltas aggregation), replacing every previous cache entry.
    * Inputs that fit one partition (onePartition) merge there with no
    * exchange: the union is coalesced to one partition, and the delta's
    * own partial aggregate (deltaPartials, same gate) is already
    * single-partitioned, so the whole merge is one stage that store()'s
    * single job runs. Larger inputs keep the distributed plan, whose two
    * aggregations each shuffle. */
  private def compactInto(spark: SparkSession, d: MvDef,
      extra: Option[DataFrame], deltaInFiles: Boolean,
      asFold: Boolean = false,
      snapshotEntries: Option[Seq[String]] = None): DataFrame = {
    val mergeCols = mergePartialCols(d)
    val inputs = Seq(d.mvDf) ++ d.gens ++ extra
    val union = inputs.reduce(_ unionByName _)
    // store() checkpoints every generation (lineage-cut, see there), so
    // the merged frame needs no extra snapshot here: the old partials it
    // unions are already LogicalRDD leaves no recache can rebuild, and
    // the durable overwrite below can never invalidate what the new
    // generation reads
    val merged = (if (onePartition(spark, inputs)) union.coalesce(1) else union)
      .groupBy(d.keysSeq.map(col): _*)
      .agg(mergeCols.head, mergeCols.tail: _*)
    val out = store(spark, d.name, d.signature, d.keysSeq, d.sumsSeq, d.minsSeq,
      d.maxsSeq, d.approxSeq, merged, replacedAll = d.mvDf +: d.gens,
      d.filterConjuncts, d.baseDf,
      unionSafe = d.unionSafe && (extra.isEmpty || deltaInFiles),
      sumDefs = d.sumDefs, sumExprCols = d.sumExprCols,
      counts = d.cntnsSeq, durableDir = d.durableDir)
    // a durable tile's on-disk copy tracks every compaction (the DML
    // append-fold path lands here), so a later adopt sees fresh partials.
    // A DEFERRED fold writes with the barrier-time leaf entries its delta
    // reflects (never the live listing — later queued appends would pair
    // a post-append fingerprint with partials lacking the append, one
    // crash from an adopter serving them stale); a later adopt of an
    // intermediate-fold copy catches the remaining appends up from the
    // entry diff (adoptOne). A NON-fold caller (refresh, stream
    // compaction, persistTile, sync fallback) writes only when NO fold
    // is queued — inferring last-fold-ness from the counter alone was
    // the r14 hazard (ADVICE): with one fold still queued, its live
    // fingerprint would cover partials missing that fold's delta.
    if (asFold || pendingMaintenance(d.name) == 0)
      d.durableDir.foreach(_ =>
        writeDurable(spark, registry.get(d.name), snapshotEntries))
    out
  }

  /** O(|delta|) incremental append (the stream-maintenance fast path):
    * instead of re-aggregating the whole MV per micro-batch, the delta's
    * partial aggregate is cached as an extra GENERATION and unioned into
    * the substitution target — the rollup's final aggregate merges
    * generations exactly as it already merges union-compensation
    * branches, so results are identical at any generation count. Every
    * `compactEvery`-th append folds all generations back into one
    * (amortized O(|MV|)/compactEvery per batch). `generations(name)`
    * exposes the current count. */
  def appendIncremental(spark: SparkSession, name: String, delta: DataFrame,
      compactEvery: Int = 8, deltaInFiles: Boolean = false): DataFrame =
    maintLock.synchronized {
      require(compactEvery >= 2, "compactEvery must be at least 2")
      val d = Option(registry.get(name)).getOrElse(
        throw new IllegalArgumentException(s"unknown MV: $name"))
      val deltaAgg = deltaPartials(spark, d, delta)
      if (d.gens.size + 2 > compactEvery) compactInto(spark, d, Some(deltaAgg), deltaInFiles)
      else {
        // generations get the same lineage cut as store(): a cached
        // partial whose plan still reads source files would be rebuilt
        // from the live listing by a later write's recache
        val (gen, _) = cutAndCache(deltaAgg)
        val dTarget = gen.queryExecution.withCachedData
        val newTarget = logical.Union(Seq(d.target, dTarget),
          byName = false, allowMissingCol = false)
        // durable write-through: the on-disk copy tracks every batch,
        // not just compactions — a crash loses nothing (the gen merges
        // back at adopt time exactly as the cached generation would).
        // With a deferred FOLD queued the write defers to the fold's
        // compaction instead (its metadata would otherwise pair a live
        // fingerprint with partials lacking the queued append).
        val writeThrough = d.durableDir.isDefined && pendingMaintenance(name) == 0
        val updated = d.copy(target = newTarget, gens = d.gens :+ gen,
          unionSafe = d.unionSafe && deltaInFiles,
          durableGens = if (writeThrough) d.durableGens + 1 else d.durableGens)
        registry.put(name, updated)
        // `updated` so the rewritten metadata carries the POST-append
        // unionSafe; the new gen lands at the pre-append index.
        if (writeThrough)
          writeDurableGen(spark, updated, d.durableGens, gen, deltaInFiles)
        gen
      }
    }

  /** Number of cached generations (1 = fully compacted). */
  def generations(name: String): Int =
    Option(registry.get(name)).map(_.gens.size + 1).getOrElse(0)

  /** Is `name` currently registered? Lets a caller register once and
    * answer every later rollup from the cache (the lattice usage
    * pattern; a DML write to the source drops the registration via
    * invalidatePath, after which this returns false again). */
  def isRegistered(name: String): Boolean = registry.containsKey(name)

  /** Partial-aggregate the delta at the MV's keys, keeping only the rows
    * the MV's defining predicate admits. Conjuncts rebind to the delta's
    * attributes BY NAME (not via a SQL round-trip, which breaks when the
    * registered source carried qualifiers); a type gap from the loader's
    * NTZ normalization closes with a cast on the delta side. */
  private def deltaPartials(spark: SparkSession, d: MvDef, delta0: DataFrame): DataFrame = {
    // fold the delta in AS IF it had been appended to the defining
    // source: columns the source reads through a normalization cast
    // (srcTypes) are cast to the registered type first, so partials
    // merge at identical types (no set-op widening)
    val delta = delta0.select(delta0.schema.fields.map { f =>
      d.srcTypes.get(f.name) match {
        case Some(t) if t != f.dataType => col(f.name).cast(t).as(f.name)
        case _ => col(f.name)
      }
    }.toIndexedSeq: _*)
    val deltaOut = delta.queryExecution.analyzed.output
      .map(a => a.name -> (a: Attribute)).toMap
    val deltaKept = d.filterConjuncts.foldLeft(delta) { (df, c) =>
      val missing = c.references.map(_.name).filterNot(deltaOut.contains)
      require(missing.isEmpty,
        s"MV ${d.name}: delta is missing filter columns ${missing.mkString(", ")}")
      val bound = c.transform {
        case a: AttributeReference =>
          val out = deltaOut(a.name)
          if (out.dataType == a.dataType) out
          else Cast(out, a.dataType,
            Some(spark.sessionState.conf.sessionLocalTimeZone))
      }
      df.filter(org.apache.spark.sql.GraftSqlBridge.column(bound))
    }
    val cols = partialAggCols(d.sumsSeq, d.minsSeq, d.maxsSeq, d.approxSeq,
      d.sumExprCols, d.cntnsSeq)
    // the gate compactInto applies to the same fold: the tile's partials
    // plus the delta's leaves
    val kept =
      if (onePartition(spark, d.mvDf +: d.gens :+ delta)) deltaKept.coalesce(1)
      else deltaKept
    kept.groupBy(d.keysSeq.map(col): _*).agg(cols.head, cols.tail: _*)
  }

  /** Does a fold over `inputs` fit in ONE partition? True when the
    * summed size of the leaves it reads (the tile's cached partials, the
    * appended rows, any leaf files a star delta joins) is at most
    * spark.sql.adaptive.advisoryPartitionSizeInBytes. At that size AQE
    * would coalesce the fold's shuffles into a single partition anyway,
    * so the exchanges and their shuffle-stage jobs buy nothing. Sizes are
    * the optimizer's leaf statistics: a built cache reports its bytes, a
    * file scan its file sizes, and a leaf of unknown size (an RDD without
    * statistics) reports the default size, which keeps the fold
    * distributed. */
  private def onePartition(spark: SparkSession, inputs: Seq[DataFrame]): Boolean =
    inputs.flatMap(_.queryExecution.optimizedPlan.collectLeaves())
      .map(_.stats.sizeInBytes).sum <=
      spark.sessionState.conf.getConf(
        org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)

  /** Merge columns folding two generations of partials: every partial is
    * a commutative monoid (SUM/counts by SUM, MIN/MAX by themselves, HLL
    * sketches by union). */
  private def mergePartialCols(d: MvDef): Seq[org.apache.spark.sql.Column] =
    mergePartialColsFor(d.sumsSeq, d.sumExprCols.map(_._1), d.cntnsSeq,
      d.minsSeq, d.maxsSeq, d.approxSeq, n => d.mvDf.schema(n).dataType)

  /** Layout-parametric variant: adoptOne merges on-disk gen increments
    * before any MvDef exists for the tile. `typeOf` is the tile's STORED
    * partial layout: a decimal SUM partial re-widens on every merge
    * (sum(decimal(p,s)) → p+10), so without the cast-back each
    * fold/compaction would silently mutate the durable layout and a
    * later positional Union (generations, union compensation) would
    * splice mismatched types mid-optimizer. */
  private def mergePartialColsFor(sums: Seq[String], sumExprNames: Seq[String],
      cntns: Seq[String], mins: Seq[String], maxs: Seq[String],
      approxes: Seq[String],
      typeOf: String => org.apache.spark.sql.types.DataType)
      : Seq[org.apache.spark.sql.Column] = {
    // column ORDER must mirror partialAggCols exactly: the substitution
    // target unions generations POSITIONALLY (appendIncremental,
    // unionTarget), so a compacted generation (this layout) and a fresh
    // delta (partialAggCols layout) must agree column-for-column — with
    // both sums and derived measures present the cntn blocks would
    // otherwise cross (same LongType on both sides: silently wrong)
    val sumNames = sums ++ sumExprNames
    sumNames.map { c =>
      val n = s"__mv_sum_$c"
      sum(col(n)).cast(typeOf(n)).as(n)
    } ++
      sumExprNames.map(c => sum(col(s"__mv_cntn_$c")).as(s"__mv_cntn_$c")) ++
      sums.map(c => sum(col(s"__mv_cntn_$c")).as(s"__mv_cntn_$c")) ++
      cntns.map(c => sum(col(s"__mv_cntn_$c")).as(s"__mv_cntn_$c")) ++
      mins.map(c => min(col(s"__mv_min_$c")).as(s"__mv_min_$c")) ++
      maxs.map(c => max(col(s"__mv_max_$c")).as(s"__mv_max_$c")) ++
      approxes.map(c => hll_union_agg(col(s"__mv_hll_$c")).as(s"__mv_hll_$c")) :+
      sum(col("__mv_cnt")).as("__mv_cnt")
  }

  // ---- deferred join-tile append folds ---------------------------------
  // A one-sided append to a JOIN tile needs the OTHER leaves to compute
  // its star delta (Δ(A⋈B) = ΔA⋈B) — for a dimension append that is a
  // full fact pass, which must not stall the DML thread (the r13 scale
  // flag). The barrier builds the delta PLAN synchronously (schema-only:
  // the other leaves pinned to a file-list snapshot), marks the tile
  // pending — the rewrite skips pending tiles, never serving one that
  // has not absorbed a committed append — and a single maintenance
  // thread runs the fold jobs FIFO. The snapshot is what keeps QUEUED
  // folds exact: fold_i must join the other leaves as of barrier_i;
  // reading live roots at execution time would double-count ΔA⋈ΔB once
  // a later append lands on another leaf.

  /** In-flight deferred folds per tile name. */
  private val pendingFolds = new ConcurrentHashMap[String, Integer]()

  /** Monotone per-name epoch: bumped by every operation after which a
    * queued fold's delta no longer applies — re-register (fresh partials
    * already include the appended files), drop, release, clear. A
    * deferred task applies only at its enqueue-time epoch. */
  private val foldEpochs = new ConcurrentHashMap[String, java.lang.Long]()
  private def epochOf(name: String): Long =
    Option(foldEpochs.get(name)).map(_.toLong).getOrElse(0L)
  private def bumpEpoch(name: String): Unit =
    foldEpochs.merge(name, 1L, (a, b) => a + b): Unit

  private val foldExecutor = java.util.concurrent.Executors.newSingleThreadExecutor(
    (r: Runnable) => {
      val t = new Thread(r, "graft-mv-maintenance"); t.setDaemon(true); t
    })

  /** Block until every deferred fold enqueued so far has completed (the
    * executor is FIFO, so an empty barrier task suffices). Determinism
    * hook for tests and for callers that need read-your-append on a join
    * tile. */
  def awaitMaintenance(): Unit =
    foldExecutor.submit(new Runnable { def run(): Unit = () }).get(): Unit

  /** Deferred folds currently outstanding for `name` (0 = tile serves). */
  def pendingMaintenance(name: String): Int =
    Option(pendingFolds.get(name)).map(_.toInt).getOrElse(0)

  /** Test instrumentation: runs at the start of every deferred fold
    * task, before any lock is taken. */
  private[graft] var foldTaskHook: () => Unit = () => ()

  /** Registered tiles cheapest-first: among MVs that can all answer a
    * query, the smallest adequate tile is tried first — the reference's
    * cost-based tile choice (materialize/Lattice.java getTile picks the
    * least-cost covering materialization). Cross-tile subsumption falls
    * out of the full sweep: a query a COARSE tile cannot answer (e.g.
    * COUNT(DISTINCT c) with c only a key of a FINER tile) keeps probing
    * until the finer tile admits it. Tiles with an in-flight deferred
    * fold are SKIPPED — a committed append they have not absorbed yet
    * must never be missing from an answer. */
  private def candidates: Seq[MvDef] =
    registry.values.toArray.map(_.asInstanceOf[MvDef])
      .filter(d => pendingMaintenance(d.name) == 0)
      .sortBy(_.rowCount).toSeq

  // drop/clear hold maintLock like every other registry write: an
  // unsynchronized drop racing a stream micro-batch could be resurrected
  // by the batch's registry.put, with its cache already unpersisted
  def drop(spark: SparkSession, name: String): Unit = maintLock.synchronized {
    bumpEpoch(name)
    Option(registry.remove(name)).foreach { d =>
      (d.mvDf +: d.gens).foreach(_.unpersist())
      // a dropped durable tile must not be resurrected by a later adopt
      d.durableDir.foreach(deleteDir(spark, _))
    }
  }
  def clear(): Unit = maintLock.synchronized {
    registry.values.forEach { d =>
      bumpEpoch(d.name)
      (d.mvDf +: d.gens).foreach(_.unpersist())
    }
    registry.clear()
  }

  /** DML write-barrier (ref: materialize/MaterializationService.java +
    * MaterializationActor.java — materializations are keyed and
    * re-resolved, never served stale after the backing table changes):
    * drop every registered MV whose defining signature reads `path`, so
    * a rollup issued after an UPDATE/DELETE/MERGE recomputes from the
    * rewritten source instead of answering from a pre-DML cache.
    * TableDml calls this before each mutating write returns; appends the
    * caller WANTS folded in go through refreshIncremental instead (run
    * it before the append is written, or re-register after). Path
    * containment is prefix-based so a partition-scoped write under the
    * table root invalidates MVs over the whole table. Returns the names
    * of the dropped MVs (empty when nothing read the path). */
  def invalidatePath(spark: SparkSession, path: String): Seq[String] =
    maintLock.synchronized {
      val hit = touchedBy(spark, path).map(_.name)
      hit.foreach(drop(spark, _))
      hit
    }

  /** Does any MV read `path`? (TableDml.insertInto persists the append
    * rows before writing when this is true, so the fold sees the same
    * snapshot that was written.) */
  def watchesPath(spark: SparkSession, path: String): Boolean =
    touchedBy(spark, path).nonEmpty

  /** APPEND write-barrier (TableDml.insertInto): an append is exactly
    * refreshIncremental's delta contract, so an MV over the appended
    * path folds the new rows in algebraically and stays live — the
    * nightly-load path never re-registers. A JOIN MV folds too (r13):
    * inner joins distribute over union on either input, so the star's
    * delta is the appended rows joined against the OTHER leaves' current
    * files — Δ(A ⋈ B) = ΔA ⋈ B when only A changed (starDelta; at
    * 100 TB a fact append joins the broadcast-small dims, a dim append
    * pays one fact pass — both beat rebuilding the tile). The appended
    * rows ARE in the files, so the MV stays union-compensation-safe:
    * the base relation's file indexes are refreshed so a residual scan
    * sees the new files. A fold that fails for any reason — including a
    * path matching MORE than one leaf (self-join: the delta would need
    * both sides simultaneously) — downgrades to DROP (the barrier's
    * guarantee is no-stale-MV, never at the cost of failing a committed
    * write). Returns (folded, dropped) names. */
  /** `releaseRows`: the caller hands ownership of a PERSISTED delta to
    * the barrier — unpersisted once every fold that reads it (including
    * deferred ones, which outlive this call) has completed. */
  def foldAppendOrInvalidate(spark: SparkSession, path: String,
      rows: DataFrame, releaseRows: Boolean = false): (Seq[String], Seq[String]) =
    maintLock.synchronized {
    var deferredAny = false
    val outcomes = touchedBy(spark, path).map { d =>
      try {
        d.baseDf.queryExecution.analyzed.foreach {
          case lr: LogicalRelation => lr.relation match {
            case fs: HadoopFsRelation => fs.location.refresh()
            case _ => ()
          }
          case _ => ()
        }
        if (d.signature.leaves.size == 1) {
          compactInto(spark, d, Some(deltaPartials(spark, d, rows)),
            deltaInFiles = true)
          (d.name, true)
        } else starDeltaSnapshot(spark, d, path, rows) match {
          case Some(delta) =>
            // JOIN tile: the fold's aggregation (a fact pass for a dim
            // append) runs on the maintenance thread, not the DML thread
            // (the r13 scale flag). The delta PLAN is built here — schema
            // work only, and ambiguous recipes still fail synchronously
            // into the DROP arm below. Until the fold lands the tile is
            // pending and the rewrite skips it.
            val deltaAgg = deltaPartials(spark, d, delta)
            // the durable copy this fold will write must claim exactly
            // the files its partials reflect: the listing NOW (the
            // append is committed, the barrier holds the lock) — by
            // execution time a later queued append may already be live
            val entriesNow = d.durableDir.map(_ =>
              leafEntries(spark, d.signature.leaves.map(_.toSeq)))
            pendingFolds.merge(d.name, 1, (a, b) => a + b): Unit
            deferredAny = true
            val epoch = epochOf(d.name)
            foldExecutor.submit(new Runnable {
              def run(): Unit =
                runDeferredFold(spark, d.name, epoch, deltaAgg, entriesNow)
            }): Unit
            (d.name, true)
          case None =>
            // a leaf that cannot be pinned to a flat file-list snapshot
            // (partitioned layout) folds synchronously on the live roots
            // — correctness over write latency
            compactInto(spark, d,
              Some(deltaPartials(spark, d, starDelta(spark, d, path, rows))),
              deltaInFiles = true)
            (d.name, true)
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"[graft] MV ${d.name}: append fold failed (${e.getMessage}); dropping")
          drop(spark, d.name)
          (d.name, false)
      }
    }
    if (releaseRows) {
      if (deferredAny) foldExecutor.submit(new Runnable {
        def run(): Unit = { rows.unpersist(): Unit }
      }): Unit
      else rows.unpersist(): Unit
    }
    (outcomes.collect { case (n, true) => n },
      outcomes.collect { case (n, false) => n })
  }

  /** Execute one deferred fold at its enqueue-time epoch; a bumped epoch
    * (re-register/drop/release since the barrier) skips — the delta no
    * longer applies to what the registry holds. Failures drop the tile,
    * the barrier's no-stale guarantee.
    *
    * The fold's jobs run under their own job group (foldJobGroup) and a
    * description naming the tile, cleared when the task ends. The
    * maintenance thread inherits Spark's local properties from whichever
    * thread first submitted to it, so without this every later fold would
    * be charged to that caller's stale group. */
  private def runDeferredFold(spark: SparkSession, name: String, epoch: Long,
      deltaAgg: DataFrame, snapshotEntries: Option[Seq[String]]): Unit = {
    foldTaskHook()
    val sc = spark.sparkContext
    sc.setJobGroup(foldJobGroup(name), s"append fold into MV $name")
    try maintLock.synchronized {
      try {
        if (epochOf(name) == epoch) Option(registry.get(name)).foreach { d =>
          try compactInto(spark, d, Some(deltaAgg), deltaInFiles = true,
            asFold = true, snapshotEntries = snapshotEntries): Unit
          catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(s"[graft] MV $name: deferred append fold " +
                s"failed (${e.getMessage}); dropping")
              drop(spark, name)
          }
        }
      } finally pendingFolds.compute(name,
        (_, v) => if (v == null || v <= 1) null else v - 1): Unit
    } finally sc.clearJobGroup()
  }

  /** Job group of the deferred folds into tile `name`. */
  private[graft] def foldJobGroup(name: String): String = s"graft-mv-fold:$name"

  /** The star delta with every OTHER leaf pinned to an explicit file
    * list captured NOW (metadata-only), or None when a leaf has no flat
    * listing (partitioned layout — the caller folds synchronously).
    * Throws when the appended path does not identify exactly one leaf
    * (self-join ambiguity — the caller downgrades to DROP). */
  private def starDeltaSnapshot(spark: SparkSession, d: MvDef, path: String,
      rows: DataFrame): Option[DataFrame] = {
    val hit = appendedLeaf(spark, d, path)
    val others = d.signature.leaves.zipWithIndex.map { case (l, i) =>
      if (i == hit) Some(Seq.empty[(Seq[String], Option[String])])
      else listLeafFiles(spark, l)
    }
    if (others.exists(_.isEmpty)) None
    else {
      val frames = d.signature.leaves.zipWithIndex.map { case (l, i) =>
        if (i == hit) rows
        else {
          // one pinned frame per (files, basePath) group, unioned by
          // name: a FLAT multi-root leaf is one group; a PARTITIONED
          // root reads its own files under itself as basePath, so the
          // directory-encoded columns re-derive per root exactly as the
          // original joint read resolved them relative to each root
          others(i).get
            .map { case (files, basePath) =>
              val reader = basePath.foldLeft(leafReader(spark, d, l))(
                (r, bp) => r.option("basePath", bp))
              graft.T.normalizeTimestamps(reader.parquet(files: _*))
            }
            .reduce(_ unionByName _)
        }
      }
      Some(joinFrames(frames, d.signature.joinPairs.toSeq))
    }
  }

  /** Pinned snapshot of a leaf as (files, basePath) read groups, listed
    * NOW: flat roots pool into one group; a partitioned root becomes its
    * own group read under itself as basePath, so partition columns
    * re-derive from the pinned file paths — a fact partitioned by day
    * folds off the DML thread like a flat one. None when the leaf has
    * no data files at all. */
  private def listLeafFiles(spark: SparkSession, roots: Set[String])
      : Option[Seq[(Seq[String], Option[String])]] = try {
    val conf = spark.sessionState.newHadoopConf()
    val flat = scala.collection.mutable.ArrayBuffer.empty[String]
    val grouped = scala.collection.mutable.ArrayBuffer.empty[(Seq[String], Option[String])]
    roots.toSeq.sorted.foreach { root =>
      val files = scala.collection.mutable.ArrayBuffer.empty[String]
      var nested = false
      def walk(p: org.apache.hadoop.fs.Path,
          fs: org.apache.hadoop.fs.FileSystem): Unit =
        fs.listStatus(p).foreach { st =>
          val nm = st.getPath.getName
          if (!nm.startsWith("_") && !nm.startsWith(".")) {
            if (st.isDirectory) { nested = true; walk(st.getPath, fs) }
            else files += st.getPath.toString
          }
        }
      val p = new org.apache.hadoop.fs.Path(root)
      walk(p, p.getFileSystem(conf))
      if (files.nonEmpty) {
        if (nested) grouped += ((files.toSeq, Some(root)))
        else flat ++= files
      }
    }
    if (flat.nonEmpty) grouped += ((flat.toSeq, None))
    if (grouped.isEmpty) None else Some(grouped.toSeq)
  } catch { case scala.util.control.NonFatal(_) => None }

  /** The star's delta for a one-sided append: the appended rows stand in
    * for their leaf, every other leaf reads its CURRENT files (unchanged
    * since registration — only `path` was written), and the join recipe
    * re-applies. Exact because inner joins distribute over union on
    * either input. Throws when the path matches zero or several leaves
    * (the caller downgrades to DROP). */
  private def starDelta(spark: SparkSession, d: MvDef, path: String,
      rows: DataFrame): DataFrame = {
    val hit = appendedLeaf(spark, d, path)
    val frames = d.signature.leaves.zipWithIndex.map { case (l, i) =>
      if (i == hit) rows
      else graft.T.normalizeTimestamps(
        leafReader(spark, d, l).parquet(l.toSeq.sorted: _*))
    }
    joinFrames(frames, d.signature.joinPairs.toSeq)
  }

  /** A reader carrying the schema of `d`'s leaf relation over `roots`,
    * as registered (data columns plus any partition columns). Reading
    * pinned files or live roots with it infers nothing: a schema-less
    * parquet read runs a one-task inference job, once per join tile per
    * append, and could re-type partition columns from a subset of the
    * paths. A leaf the defining plan does not show reads schema-less. */
  private def leafReader(spark: SparkSession, d: MvDef, roots: Set[String])
      : org.apache.spark.sql.DataFrameReader =
    d.baseDf.queryExecution.analyzed.collectFirst {
      case lr: LogicalRelation if (lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString).toSet == roots
        case _ => false
      }) => lr.relation.schema
    }.foldLeft(spark.read)(_ schema _)

  /** Does a leaf root overlap the written `path`? Either may contain the
    * other: a partition-scoped write under a table root touches the
    * leaf, and so does a write to a directory above it. `path` is
    * qualified the way leaf roots were at registration. */
  private def touchesPath(spark: SparkSession, path: String): String => Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val qualified =
      p.getFileSystem(spark.sessionState.newHadoopConf()).makeQualified(p).toString
    leaf => leaf == qualified || leaf.startsWith(qualified + "/") ||
      qualified.startsWith(leaf + "/")
  }

  /** Index of the one leaf of `d` an append to `path` lands in; throws
    * when the path matches zero or several leaves (self-join ambiguity:
    * the delta would need both sides at once). */
  private def appendedLeaf(spark: SparkSession, d: MvDef, path: String): Int = {
    val touches = touchesPath(spark, path)
    val hits = d.signature.leaves.zipWithIndex
      .collect { case (l, i) if l.exists(touches) => i }
    require(hits.size == 1,
      s"append touches ${hits.size} leaves of MV ${d.name}; delta needs exactly one")
    hits.head
  }

  private def touchedBy(spark: SparkSession, path: String): Seq[MvDef] = {
    val touches = touchesPath(spark, path)
    import scala.jdk.CollectionConverters._
    registry.values.asScala
      .filter(_.signature.leaves.exists(_.exists(touches))).toSeq
  }

  /** Continuous MV maintenance from a stream (ref: the reference's
    * materializations never see streams — this is the Spark-native
    * composition: STREAM Δ rows ARE the append-only delta contract of
    * the incremental refresh). Each micro-batch APPENDS its partial
    * aggregate as a cached generation — per-batch cost O(|batch|), not
    * O(|MV|) — and every `compactEvery`-th batch folds the generations
    * back into one, so rollup queries see data as fresh as the last
    * completed batch at a bounded union width. Returns the
    * StreamingQuery handle (caller stops it). */
  def maintainFromStream(spark: SparkSession, name: String,
      delta: DataFrame, compactEvery: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(delta.isStreaming, "maintainFromStream needs a streaming DataFrame")
    delta.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) { appendIncremental(spark, name, batch, compactEvery); () }
      }
      .start()
  }

  // ---- durable tiles ---------------------------------------------------
  // (ref: materialize/MaterializationService.java + MaterializationActor
  // .java — the reference stores materializations as actual schema tables
  // keyed and re-resolved centrally, surviving the connection. Here the
  // durable home is a lattice directory: each tile's partials persist as
  // parquet next to a metadata row, and a new session re-adopts them —
  // the scan-once economics survive a driver restart. Validity is keyed
  // by a fingerprint of the source leaves' file listings, the analog of
  // the reference's keyed-validity model: a tile whose source changed
  // while no session watched it is discarded at adopt time, never served
  // stale.)

  /** Serialized tile definition — one row beside the partials parquet. */
  private[plans] final case class TileMeta(
      name: String, keys: Seq[String], sums: Seq[String],
      cntns: Seq[String], mins: Seq[String], maxs: Seq[String],
      approxes: Seq[String],
      leaves: Seq[String],     // each leaf's sorted root paths, \u0001-joined
      joinPairs: Seq[String],  // "a\u0001b", name-normalized
      filterSqls: Seq[String], // folded defining conjuncts, re-parseable SQL
      sumDefKeys: Seq[String], sumDefNames: Seq[String],   // derived measures
      sumExprNames: Seq[String], sumExprSqls: Seq[String], // their columns
      unionSafe: Boolean,
      fingerprint: String,
      // the defining source's OUTPUT schema (name + DataType.json, in
      // source column order): adoptOne re-applies it on the rebuilt
      // base, so a same-name cast projection the registered source
      // carried (e.g. a money column normalized to DECIMAL) survives
      // adoption — without it, post-adopt folds would compute partials
      // at the raw file types and silently widen the durable layout
      // (ADVICE r13 medium)
      srcCols: Seq[String], srcTypeJsons: Seq[String],
      // declared foreign keys whose BOTH sides are tile leaves, as
      // 4-field -joined rows: re-declared at adopt time so a
      // zero-API restarted driver regains fact-only FK-tile subsumption
      // (ref: constraints live on table metadata, schema/Statistic.java
      // getReferentialConstraints — they belong wherever the catalog
      // stores the materialization)
      fks: Seq[String],
      // the exact `path|length|mtime` listing the fingerprint hashes —
      // adoptOne diffs it against the live listing, so a copy written
      // before a crash can be caught UP (append-only diff folds in)
      // instead of discarded
      leafEntries: Seq[String],
      // how many gen-<idx> increments this meta ACCOUNTS for (indices
      // 0 until gens): adoption drops any on-disk gen at an index ≥
      // gens — the in-files-delta crash window (gen renamed, meta
      // write lost) whose rows the append-only catch-up re-derives
      // from the files; keeping such a gen would double-count the
      // delta. A LISTED-but-missing gen (meta-first stream order,
      // crash before the gen rename) stays the documented conservative
      // loss.
      gens: Long)

  private def hadoopFs(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private def deleteDir(spark: SparkSession, dir: String): Unit =
    try { val (fs, p) = hadoopFs(spark, dir); fs.delete(p, true): Unit }
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graft] durable tile cleanup failed for $dir: ${e.getMessage}")
    }

  /** The source leaves' data-file listings as `path|length|mtime`
    * entries, root-sorted then entry-sorted within each root — the
    * tile's validity evidence (the fingerprint hashes this list, and
    * adoptOne diffs it to catch appended files up). Spark bookkeeping
    * files (_SUCCESS, dot-files) are excluded; they change benignly. */
  private def leafEntries(spark: SparkSession,
      leaves: Seq[Seq[String]]): Seq[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    leaves.flatten.sorted.foreach { root =>
      val p = new org.apache.hadoop.fs.Path(root)
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) {
        val it = fs.listFiles(p, true)
        val entries = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) {
          val f = it.next()
          val nm = f.getPath.getName
          if (!nm.startsWith("_") && !nm.startsWith("."))
            entries += s"${f.getPath}|${f.getLen}|${f.getModificationTime}"
        }
        out ++= entries.sorted
      } else out += s"missing:$root"
    }
    out.toSeq
  }

  /** MD5 over the leaf entries — the tile's validity key. */
  private def fingerprintOf(entries: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    entries.foreach(e => md.update(e.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def leafFingerprint(spark: SparkSession,
      leaves: Seq[Seq[String]]): String =
    fingerprintOf(leafEntries(spark, leaves))

  /** Hadoop paths reject ':' in components (ddl:name); collapse to a
    * filesystem-safe slug. A sanitized name gets a short hash suffix so
    * distinct names (ddl:x vs ddl_x) can never share a durable home —
    * the true name travels in the metadata row either way. */
  private def pathSlug(name: String): String = {
    val safe = name.replaceAll("[^A-Za-z0-9._-]", "_")
    if (safe == name) name
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(name.getBytes("UTF-8"))
      safe + "-" + md.take(4).map("%02x".format(_)).mkString
    }
  }

  /** Test instrumentation: runs between the staged durable write (the
    * fingerprint is computed inside it) and the commit swap — the window
    * an out-of-band source write races. Production value is a no-op. */
  private[graft] var durableCommitHook: () => Unit = () => ()
  /** Fires between a committed gen rename and its meta write — the
    * in-files-delta crash window the gen fingerprint marker exists
    * for; tests crash here. */
  private[graft] var durableGenMetaHook: () => Unit = () => ()

  /** Write the tile's current partials + metadata to its durable home —
    * staged into a dot-prefixed sibling then swapped in (TableDml's
    * commit pattern), so a concurrent adopter never reads a
    * half-written directory: it sees the old tile, or briefly none
    * (skipped with a warning), never a torn one. Dot-prefixed staging
    * dirs are invisible to adoptTiles.
    *
    * The swap also resolves the store/adopt race (ADVICE r12/r13): a
    * source write landing between the fingerprint computation and the
    * commit would leave a tile claiming validity for files it never
    * folded. After the swap the fingerprint is recomputed; on mismatch
    * the tile SELF-INVALIDATES (registration dropped, durable home
    * deleted) — the same never-serve-stale rule the DML barrier applies. */
  private def writeDurable(spark: SparkSession, d: MvDef,
      snapshotEntries: Option[Seq[String]] = None): Unit = {
    val dir = d.durableDir.getOrElse(
      throw new IllegalStateException(s"MV ${d.name} has no durable home"))
    val p = new org.apache.hadoop.fs.Path(dir)
    val staged = new org.apache.hadoop.fs.Path(
      p.getParent, "." + p.getName + ".staging")
    val fp = writeDurableInto(spark, d, staged.toString, snapshotEntries)
    durableCommitHook()
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) fs.delete(p, true)
    if (!fs.rename(staged, p))
      throw new java.io.IOException(s"durable tile commit failed: $staged -> $p")
    // the full swap removed any gen-N increments; the registry entry
    // tracks the on-disk generation count for the write-through path
    registry.computeIfPresent(d.name, (_, cur) =>
      if (cur.durableDir.contains(dir)) cur.copy(durableGens = 0) else cur): Unit
    // with SNAPSHOT entries the recorded listing is authoritative for
    // what the partials reflect — divergence from the live listing is
    // expected (later queued appends) and adoptOne reconciles it from
    // the entry diff; only a LIVE-listing write self-checks for the
    // out-of-band race
    if (snapshotEntries.isEmpty &&
        leafFingerprint(spark, d.signature.leaves.map(_.toSeq)) != fp) {
      System.err.println(s"[graft] durable tile ${d.name}: source changed " +
        "during persist; self-invalidating")
      drop(spark, d.name)
    }
  }

  /** Stage the partials + metadata under `dir`; returns the fingerprint
    * recorded in the metadata row (from the snapshot entries when given,
    * else the live source listings at write time). */
  private def writeDurableInto(spark: SparkSession, d: MvDef, dir: String,
      snapshotEntries: Option[Seq[String]] = None): String = {
    d.mvDf.write.mode("overwrite").parquet(s"$dir/data")
    val meta = tileMetaOf(spark, d, snapshotEntries)
    writeMeta(spark, meta, dir)
    meta.fingerprint
  }

  private def tileMetaOf(spark: SparkSession, d: MvDef,
      entriesOverride: Option[Seq[String]] = None,
      gens: Long = 0L): TileMeta = {
    val sumDefSeq = d.sumDefs.toSeq.sortBy(_._2)
    // a deferred fold passes the barrier-time listing its partials
    // actually reflect; everything else records the live listing
    val entries = entriesOverride.getOrElse(
      leafEntries(spark, d.signature.leaves.map(_.toSeq)))
    val srcFields = d.baseDf.queryExecution.analyzed.output
    TileMeta(
      name = d.name, keys = d.keysSeq, sums = d.sumsSeq, cntns = d.cntnsSeq,
      mins = d.minsSeq, maxs = d.maxsSeq, approxes = d.approxSeq,
      leaves = d.signature.leaves.map(_.toSeq.sorted.mkString("\u0001")),
      joinPairs = d.signature.joinPairs.toSeq.sorted
        .map { case (a, b) => s"${a}\u0001${b}" },
      filterSqls = d.filterConjuncts.map(_.sql),
      sumDefKeys = sumDefSeq.map(_._1), sumDefNames = sumDefSeq.map(_._2),
      sumExprNames = d.sumExprCols.map(_._1),
      // resolve each derived-measure Column against the source before
      // taking SQL: an UNRESOLVED Column's .sql is not re-parseable
      // (Spark 4 renders the ColumnNode wrapper), while the analyzed
      // expression's .sql is plain name-based SQL that expr() round-trips
      sumExprSqls = d.sumExprCols.map { case (n, c) =>
        foldLiterals(d.baseDf.select(c.as(n)).queryExecution.analyzed
          .asInstanceOf[Project].projectList.head.asInstanceOf[Alias].child).sql
      },
      unionSafe = d.unionSafe,
      fingerprint = fingerprintOf(entries),
      srcCols = srcFields.map(_.name),
      srcTypeJsons = srcFields.map(_.dataType.json),
      // column LISTS \u0002-joined within each \u0001 field — a
      // single-column key round-trips byte-identically with the
      // pre-composite format
      fks = graft.catalog.Constraints.forLeaves(d.signature.leaves).map(fk =>
        Seq(fk.factPath, fk.factCols.mkString("\u0002"), fk.dimPath,
          fk.dimKeys.mkString("\u0002")).mkString("\u0001")),
      leafEntries = entries,
      gens = gens)
  }

  /** Stage-and-rename the metadata row (ADVICE r14): an in-place
    * overwrite would let a concurrent cross-process adopter read a
    * missing or torn `meta`; after the rename it sees the old row or
    * the new one, never neither. */
  private def writeMeta(spark: SparkSession, meta: TileMeta, dir: String): Unit = {
    val session = spark
    import session.implicits._
    val p = new org.apache.hadoop.fs.Path(s"$dir/meta")
    val staged = new org.apache.hadoop.fs.Path(p.getParent, ".meta.staging")
    Seq(meta).toDS().repartition(1).write.mode("overwrite").parquet(staged.toString)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) fs.delete(p, true)
    if (!fs.rename(staged, p))
      throw new java.io.IOException(s"meta commit failed: $staged -> $p")
  }

  /** Stream-generation write-through (the r13 durability-window fix):
    * persist one appendIncremental generation as `gen-<idx>` beside the
    * tile's base partials, so the durable copy is as fresh as the last
    * micro-batch — the crash window that previously spanned
    * compactEvery−1 cache-only batches closes. Write order is chosen so
    * a crash between the two writes always leaves a CONSERVATIVE state
    * (ADVICE r14): a stream delta (not in the source files) writes
    * metadata first — the adopter sees tighter metadata (unionSafe may
    * flip) without the newest gen, never a gen the metadata does not
    * account for; an IN-FILES delta moves the fingerprint, so the gen
    * commits first — the adopter then sees old metadata whose
    * fingerprint mismatches the appended files and reconciles from the
    * entry diff (or discards), never a post-append fingerprint
    * validating partials that lack the delta. Both writes stage +
    * rename, so adoptTiles never reads a torn increment or a missing
    * meta. */
  private def writeDurableGen(spark: SparkSession, d: MvDef, idx: Int,
      gen: DataFrame, deltaInFiles: Boolean): Unit = {
    val dir = d.durableDir.getOrElse(
      throw new IllegalStateException(s"MV ${d.name} has no durable home"))
    // the meta records which gen indices it ACCOUNTS for (idx + 1 —
    // this gen included): a crash between the gen rename and the meta
    // write leaves a gen at an index the surviving meta's `gens` does
    // not reach, which adoption recognizes and drops — its rows are
    // exactly what the append-only catch-up re-derives, so keeping it
    // would double-count the delta
    val meta = tileMetaOf(spark, d, gens = idx + 1L)
    if (!deltaInFiles) writeMeta(spark, meta, dir)
    val p = new org.apache.hadoop.fs.Path(s"$dir/gen-$idx")
    val staged = new org.apache.hadoop.fs.Path(
      p.getParent, "." + p.getName + ".staging")
    gen.write.mode("overwrite").parquet(staged.toString)
    durableCommitHook()
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) fs.delete(p, true)
    if (!fs.rename(staged, p))
      throw new java.io.IOException(s"durable gen commit failed: $staged -> $p")
    durableGenMetaHook()
    if (deltaInFiles) writeMeta(spark, meta, dir)
    if (leafFingerprint(spark, d.signature.leaves.map(_.toSeq)) != meta.fingerprint) {
      System.err.println(s"[graft] durable tile ${d.name}: source changed " +
        "during gen persist; self-invalidating")
      drop(spark, d.name)
    }
  }

  /** Conf-driven durable lattice home (the zero-API MaterializationService
    * mode): with `spark.graft.lattice.dir` set on a session, every tile
    * registered THROUGH that session persists durably under the dir, and
    * the SQL front door (GraftSql.sql) adopts the dir's tiles once per
    * session before the first statement — so a dashboard driver restarts
    * into its warmed lattice with no orchestration code. */
  val LatticeDirConf = "spark.graft.lattice.dir"

  private val autoAdopted = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  private def confLatticeDir(spark: SparkSession): Option[String] =
    Option(spark.conf.get(LatticeDirConf, null)).filter(_.nonEmpty)

  /** Adopt the session's configured lattice dir, once per session (no-op
    * without the conf). Called by the SQL front door; programmatic users
    * call adoptTiles directly. */
  def autoAdopt(spark: SparkSession): Unit =
    confLatticeDir(spark).foreach { dir =>
      if (autoAdopted.add(spark)) adoptTiles(spark, dir): Unit
    }

  /** Persist a registered tile's partials under `latticeDir/<name>` so a
    * later session can re-adopt them (adoptTiles) without re-scanning the
    * fact. Pending stream generations are compacted first — the durable
    * copy is always one generation. From here on, every compaction
    * (including DML append folds) re-persists, and drop/invalidatePath
    * deletes the durable home, so the on-disk tile is never left stale
    * behind an in-session invalidation. */
  def persistTile(spark: SparkSession, name: String, latticeDir: String): String =
    maintLock.synchronized {
      val d0 = Option(registry.get(name)).getOrElse(
        throw new IllegalArgumentException(s"unknown MV: $name"))
      if (d0.gens.nonEmpty) compactInto(spark, d0, None, deltaInFiles = false): Unit
      val tileDir = s"$latticeDir/${pathSlug(name)}"
      registry.put(name, registry.get(name).copy(durableDir = Some(tileDir)))
      // with a deferred fold QUEUED, the write belongs to the fold's
      // final compaction: persisting NOW would pair the live
      // (post-append) fingerprint with partials that lack the append —
      // one crash away from adopting stale data as valid. The home is
      // set; the last queued fold writes it.
      if (pendingMaintenance(name) == 0)
        writeDurable(spark, registry.get(name))
      tileDir
    }

  /** Re-adopt every valid tile under `latticeDir` into THIS session's
    * registry + rewrite rule. Cost: one read of each tile's partials
    * (tile-scale rows) — the fact is never scanned; the defining source
    * is rebuilt from the recipe for compensation/fold purposes only
    * (schema resolution, no jobs). A tile whose source fingerprint no
    * longer matches (the table changed while no session watched — e.g.
    * DML from another driver) is DISCARDED, the keyed-validity rule.
    * Returns adopted names. */
  def adoptTiles(spark: SparkSession, latticeDir: String): Seq[String] =
    maintLock.synchronized {
      val (fs, root) = hadoopFs(spark, latticeDir)
      if (!fs.exists(root)) Nil
      else fs.listStatus(root).filter(_.isDirectory).toSeq
        .filterNot(_.getPath.getName.startsWith(".")) // staging dirs
        .sortBy(_.getPath.getName)
        .flatMap(st => adoptOne(spark, st.getPath.toString))
    }

  private def adoptOne(spark: SparkSession, tileDir: String): Option[String] = try {
    val session = spark
    import session.implicits._
    // a crash between writeMeta's delete and rename leaves a COMPLETE
    // staged meta (_SUCCESS present) and no live one — finish the
    // rename instead of failing this adopt forever
    locally {
      val (fs0, _) = hadoopFs(spark, tileDir)
      val metaP = new org.apache.hadoop.fs.Path(s"$tileDir/meta")
      val staged = new org.apache.hadoop.fs.Path(s"$tileDir/.meta.staging")
      if (!fs0.exists(metaP) &&
          fs0.exists(new org.apache.hadoop.fs.Path(staged, "_SUCCESS")))
        fs0.rename(staged, metaP): Unit
    }
    // a meta written by a PRE-leafEntries/gens build cannot support the
    // append-only reconciliation contract — discard the tile (one
    // re-materialization) instead of failing every future adopt
    if (!Seq("leafEntries", "gens").forall(
        spark.read.parquet(s"$tileDir/meta").columns.contains)) {
      System.err.println(s"[graft] durable tile at $tileDir predates the " +
        "entry-list format; discarding for re-materialization")
      deleteDir(spark, tileDir)
      return None
    }
    val meta = spark.read.parquet(s"$tileDir/meta").as[TileMeta].collect()(0)
    val leaves: Seq[Seq[String]] = meta.leaves.map(_.split('\u0001').toSeq)
    // a changed source is reconciled, not reflexively discarded: when
    // the recorded entry list is a strict append-only prefix of the
    // live listing (files only ADDED, flat, one leaf), the new files
    // are exactly a fold delta — the crash-between-queued-folds state
    // recovers the persisted partials and catches the appends up
    // instead of re-paying the fact scan (ref: the reference
    // re-populates materializations, MaterializationService.java; here
    // re-population is the algebraic delta fold)
    val liveEntries = leafEntries(spark, leaves)
    val changed = fingerprintOf(liveEntries) != meta.fingerprint
    val catchUp =
      if (!changed) None
      else appendOnlyDiff(leaves, meta.leafEntries, liveEntries)
    if (changed && catchUp.isEmpty) {
      System.err.println(
        s"[graft] durable tile ${meta.name}: source changed since persist; discarding")
      deleteDir(spark, tileDir)
      None
    } else if (registry.containsKey(meta.name)) {
      // live registration wins (it is at least as fresh); just make sure
      // THIS session rewrites through it
      ensureRule(spark)
      Some(meta.name)
    } else {
      // re-apply the recorded source schema on the rebuilt base (ADVICE
      // r13): a same-name cast projection the registered source carried
      // must survive adoption, or post-adopt folds/union compensation
      // would run at the raw file types — silently widening the durable
      // partial layout or splicing a type-mismatched positional Union
      val base0 = rebuildJoin(spark, leaves,
        meta.joinPairs.map { s => val Array(a, b) = s.split('\u0001'); (a, b) })
      val srcTypes = meta.srcCols.zip(
        meta.srcTypeJsons.map(org.apache.spark.sql.types.DataType.fromJson))
      val have = base0.schema.fields.map(f => f.name -> f.dataType).toMap
      val missing = srcTypes.collect { case (n, _) if !have.contains(n) => n }
      require(missing.isEmpty,
        s"rebuilt source is missing recorded columns ${missing.mkString(", ")}")
      val base = base0.select(srcTypes.map { case (n, t) =>
        if (have(n) == t) col(n) else col(n).cast(t).as(n)
      }.toIndexedSeq: _*)
      val source = meta.filterSqls.foldLeft(base)((df, s) => df.filter(expr(s)))
      val (sig, srcFilters) = signatureOf(source.queryExecution.analyzed)
        .getOrElse(throw new IllegalStateException(
          s"rebuilt source for ${meta.name} is not signable"))
      val filterConjuncts = srcFilters.flatMap(splitAnd).map(foldLiterals)
      val sumExprCols = meta.sumExprNames.zip(meta.sumExprSqls.map(expr))

      // verify the rebuilt source reproduces the stored partial layout
      // exactly (names + types): a drift here would corrupt the first
      // post-adopt fold — discard instead (the tile can never adopt)
      def shape(st: org.apache.spark.sql.types.StructType) =
        st.fields.map(f => (f.name, f.dataType)).toSeq
      val expectCols = partialAggCols(meta.sums, meta.mins, meta.maxs,
        meta.approxes, sumExprCols, meta.cntns)
      val expected = source.groupBy(meta.keys.map(col): _*)
        .agg(expectCols.head, expectCols.tail: _*).schema
      val data = spark.read.parquet(s"$tileDir/data")
      if (shape(expected) != shape(data.schema)) {
        System.err.println(s"[graft] durable tile ${meta.name}: rebuilt " +
          s"partial layout ${shape(expected)} does not match stored " +
          s"${shape(data.schema)}; discarding")
        deleteDir(spark, tileDir)
        return None
      }

      // durable gen increments (stream write-through): merge them with
      // the base partials — identical to how the cached generations
      // would merge (tile-scale work, the fact is never scanned)
      val (fs, _) = hadoopFs(spark, tileDir)
      val genDirs0 = fs.listStatus(new org.apache.hadoop.fs.Path(tileDir))
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("gen-"))
        .sortBy(_.getPath.getName.stripPrefix("gen-").toInt).toSeq
      // a gen at an index the meta's `gens` does not reach is
      // UNACCOUNTED — the in-files-delta crash window (gen renamed,
      // meta write lost): its rows are exactly what the append-only
      // catch-up below re-derives from the files, so keeping it would
      // double-count the delta. Drop it. Accounted-but-missing indices
      // (meta-first stream order, crash before the gen rename) remain
      // the documented conservative loss.
      val genDirs = genDirs0.filter { g =>
        val idx = g.getPath.getName.stripPrefix("gen-").toInt
        val accounted = idx < meta.gens
        if (!accounted) {
          System.err.println(s"[graft] durable tile ${meta.name}: dropping " +
            s"unaccounted ${g.getPath.getName} (its delta re-derives from files)")
          fs.delete(g.getPath, true): Unit
        }
        accounted
      }
      val genFrames = genDirs.map(g => spark.read.parquet(g.getPath.toString))
      genFrames.zip(genDirs).foreach { case (g, dir2) =>
        if (shape(g.schema) != shape(data.schema)) {
          System.err.println(s"[graft] durable tile ${meta.name}: gen " +
            s"${dir2.getPath.getName} layout ${shape(g.schema)} does not " +
            s"match base ${shape(data.schema)}; discarding tile")
          deleteDir(spark, tileDir)
          return None
        }
      }
      val mv =
        if (genFrames.isEmpty) data
        else {
          val merge = mergePartialColsFor(meta.sums, meta.sumExprNames,
            meta.cntns, meta.mins, meta.maxs, meta.approxes,
            n => data.schema(n).dataType)
          (data +: genFrames).reduce(_ unionByName _)
            .groupBy(meta.keys.map(col): _*).agg(merge.head, merge.tail: _*)
        }

      // re-declare the constraints persisted with the tile, so a
      // zero-API restarted driver regains fact-only FK subsumption
      // (fkTileRewrite) without a model file
      meta.fks.foreach { row =>
        val Array(fp, fc, dp, dk) = row.split('\u0001')
        graft.catalog.Constraints.declareQualified(
          graft.catalog.Constraints.ForeignKey(
            fp, fc.split('\u0002').toSeq, dp, dk.split('\u0002').toSeq))
      }
      if (meta.fks.nonEmpty) FkJoinElimination.ensure(spark)

      // with a catch-up pending, the tile must not serve until the
      // delta lands: the guard is counted BEFORE the store makes the
      // registration visible to the lock-free rewrite path
      if (catchUp.isDefined)
        pendingFolds.merge(meta.name, 1, (a, b) => a + b): Unit
      try {
        store(spark, meta.name, sig, meta.keys, meta.sums, meta.mins,
          meta.maxs, meta.approxes, mv, replacedAll = Nil, filterConjuncts,
          base, unionSafe = meta.unionSafe,
          sumDefs = meta.sumDefKeys.zip(meta.sumDefNames).toMap,
          sumExprCols = sumExprCols,
          counts = meta.cntns, durableDir = Some(tileDir)): Unit
        // on-disk gen dirs must not be overwritten by the next append
        if (meta.gens > 0)
          registry.computeIfPresent(meta.name, (_, cur) =>
            cur.copy(durableGens = meta.gens.toInt)): Unit
      } catch {
        case scala.util.control.NonFatal(e) =>
          // adoptCatchUp's own finally never ran: balance the guard
          // here, or the name stays excluded from every rewrite and
          // write-through for the life of the JVM
          if (catchUp.isDefined)
            pendingFolds.compute(meta.name,
              (_, v) => if (v == null || v <= 1) null else v - 1): Unit
          throw e
      }
      catchUp.foreach { case (root, files) =>
        adoptCatchUp(spark, meta.name, root, files, liveEntries)
      }
      Some(meta.name)
    }
  } catch {
    case scala.util.control.NonFatal(e) =>
      System.err.println(s"[graft] durable tile at $tileDir not adopted: ${e.getMessage}")
      None
  }

  /** End-of-session analog for ONE tile: drop the in-session
    * registration and caches but KEEP the durable home — the inverse of
    * adoptTiles (a clean shutdown never deletes durable tiles; drop()/
    * invalidatePath do, because they mean the tile is WRONG, not merely
    * unloaded). */
  def release(spark: SparkSession, name: String): Unit = maintLock.synchronized {
    // a queued deferred fold must not apply to a future re-adoption of
    // this name: the durable copy it would fold into predates the append,
    // and adopt-time reconciliation already handles the gap itself
    // (append-only entry diff → catch-up fold; anything else → discard)
    bumpEpoch(name)
    Option(registry.remove(name)).foreach(d =>
      (d.mvDf +: d.gens).foreach(_.unpersist()))
  }

  /** The live listing as an APPEND-ONLY extension of the recorded one:
    * Some((anchor root, new data files)) when every recorded entry is
    * still present byte-identically and every new file sits FLAT under
    * a root of ONE leaf (a single-leaf tile may gain files under any of
    * its roots). None for anything else — deletes, rewrites, nested
    * (partitioned) additions, or appends spanning several join leaves
    * reconcile by discard, never by a guessed fold. */
  private def appendOnlyDiff(leaves: Seq[Seq[String]], recorded: Seq[String],
      live: Seq[String]): Option[(String, Seq[String])] = {
    if (recorded.isEmpty) return None
    if ((recorded ++ live).exists(_.startsWith("missing:"))) return None
    val rec = recorded.toSet
    if (!rec.subsetOf(live.toSet)) return None
    val fresh = live.filterNot(rec)
    if (fresh.isEmpty) return None
    val files = fresh.map { e =>
      val i2 = e.lastIndexOf('|'); val i1 = e.lastIndexOf('|', i2 - 1)
      if (i1 <= 0) return None
      e.substring(0, i1)
    }
    def rootOf(f: String): Option[(Int, String)] = (for {
      (roots, i) <- leaves.zipWithIndex.iterator
      r <- roots.iterator
      if f.startsWith(r + "/") && !f.stripPrefix(r + "/").contains('/')
    } yield (i, r)).nextOption()
    val owners = files.map(rootOf)
    if (owners.exists(_.isEmpty)) return None
    val leafIdxs = owners.flatten.map(_._1).distinct
    if (leaves.size > 1 && leafIdxs.size != 1) return None
    Some((owners.flatten.head._2, files))
  }

  /** Fold the appended files into the just-adopted tile — THIS tile
    * only (the DML barrier's multi-tile fan-out would double-count the
    * delta into sibling tiles adopted with a fresher copy). The
    * adoption guard taken before store() is released here; the
    * single-leaf sync fold ran under it (so its durable write was
    * skipped) and re-persists with the live listing once caught up,
    * while a deferred join fold persists itself with the listing
    * captured now. Failures drop the tile — never-serve-stale. */
  private def adoptCatchUp(spark: SparkSession, name: String, root: String,
      files: Seq[String], liveEntries: Seq[String]): Unit = {
    try {
      val d = Option(registry.get(name)).getOrElse(return)
      System.err.println(s"[graft] durable tile $name: ${files.size} " +
        "appended file(s) since persist; catching up")
      val rows = graft.T.normalizeTimestamps(spark.read.parquet(files: _*))
      if (d.signature.leaves.size == 1)
        compactInto(spark, d, Some(deltaPartials(spark, d, rows)),
          deltaInFiles = true): Unit
      else starDeltaSnapshot(spark, d, root, rows) match {
        case Some(delta) =>
          val deltaAgg = deltaPartials(spark, d, delta)
          val entriesNow = d.durableDir.map(_ => liveEntries)
          pendingFolds.merge(name, 1, (a, b) => a + b): Unit
          val epoch = epochOf(name)
          foldExecutor.submit(new Runnable {
            def run(): Unit =
              runDeferredFold(spark, name, epoch, deltaAgg, entriesNow)
          }): Unit
        case None =>
          compactInto(spark, d,
            Some(deltaPartials(spark, d, starDelta(spark, d, root, rows))),
            deltaInFiles = true): Unit
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"[graft] durable tile $name: catch-up fold failed (${e.getMessage}); dropping")
        drop(spark, name)
    } finally pendingFolds.compute(name,
      (_, v) => if (v == null || v <= 1) null else v - 1): Unit
    // the sync fold ran with the adoption guard counted, so compactInto
    // skipped the durable write: persist the caught-up tile now
    if (pendingMaintenance(name) == 0)
      Option(registry.get(name)).filter(_.durableDir.isDefined)
        .foreach(writeDurable(spark, _))
  }

  /** Rebuild inner equi-joins of parquet leaves from the serialized
    * recipe. Greedy: repeatedly join two frames connected by a pending
    * pair, folding EVERY pair bridging the same two frames into one
    * condition — inner equi-joins are associative/commutative, so any
    * tree reproduces the original signature. Leaf reads go through the
    * same timestamp normalization the loader applies, so rebuilt
    * attribute types match what was registered. */
  private def rebuildJoin(spark: SparkSession, leaves: Seq[Seq[String]],
      pairs: Seq[(String, String)]): DataFrame =
    joinFrames(leaves.map(paths =>
      graft.T.normalizeTimestamps(spark.read.parquet(paths: _*))), pairs)

  /** Fold `frames0` into one inner-join tree along `pairs` (the greedy
    * merge rebuildJoin documents); also reused by starDelta with an
    * append delta standing in for one leaf. */
  private def joinFrames(frames0: Seq[DataFrame],
      pairs: Seq[(String, String)]): DataFrame = {
    val frames = scala.collection.mutable.ArrayBuffer(frames0: _*)
    val pending = scala.collection.mutable.ArrayBuffer(pairs: _*)
    def frameOf(c: String): Int = frames.indexWhere(_.columns.contains(c))
    var guard = pairs.size + frames.size + 1
    while (frames.size > 1) {
      guard -= 1
      require(guard >= 0, "join recipe does not connect the leaves")
      val idx = pending.indexWhere { case (a, b) =>
        val (fi, fj) = (frameOf(a), frameOf(b))
        fi >= 0 && fj >= 0 && fi != fj
      }
      require(idx >= 0, "join recipe does not connect the leaves")
      val (a0, b0) = pending(idx)
      val (fi, fj) = (frameOf(a0), frameOf(b0))
      val bridging = pending.filter { case (a, b) =>
        Set(frameOf(a), frameOf(b)) == Set(fi, fj)
      }
      val cond = bridging.map { case (a, b) => col(a) === col(b) }
        .reduce(_ && _)
      val joined = frames(fi).join(frames(fj), cond, "inner")
      val (hi, lo) = (fi max fj, fi min fj)
      frames.remove(hi); frames.remove(lo)
      frames += joined
      bridging.foreach(p => pending -= p)
    }
    require(pending.isEmpty,
      "cyclic join recipe cannot be rebuilt losslessly")
    frames.head
  }

  /** The substitution rule (runs in the user-provided optimizer batch). */
  object MvRewrite extends Rule[LogicalPlan] {

    override def apply(plan: LogicalPlan): LogicalPlan =
      // fast path: the rule stays installed after the last drop()/
      // invalidation — don't pay signature extraction per Aggregate for
      // an empty registry
      if (registry.isEmpty) plan
      else plan.transformUp {
        case agg @ Aggregate(groupings, aggExprs, child, _) =>
          (child match {
            case expand: logical.Expand =>
              expandRewrite(groupings, aggExprs, expand)
            // a predicate on a GROUPING output (grouping-id, or a
            // per-set key copy) pushes between the Aggregate and the
            // Expand — e.g. `rollup(...).agg(...).filter(gid = 1)`, the
            // drill-panel shape. Those attributes keep their exprIds
            // across the tile substitution (the rewrite preserves every
            // grouping position), so the filter re-applies verbatim
            // above the rewritten Expand.
            case logical.Filter(cond, expand: logical.Expand)
                if cond.references.subsetOf(
                  org.apache.spark.sql.catalyst.expressions.AttributeSet(
                    expand.output.filterNot(expand.child.outputSet.contains))) =>
              expandRewrite(groupings, aggExprs, expand).map {
                case Aggregate(g2, a2, newExpand, _) =>
                  Aggregate(g2, a2, logical.Filter(cond, newExpand), None)
                case other => other
              }
            case _ =>
              val (g2, a2, child2) = inlineGroupingProject(groupings, aggExprs, child)
              exactRewrite(g2, a2, child2)
                .orElse(joinCompRewrite(g2, a2, child2))
          }).getOrElse(agg)
      }

    /** Catalyst extracts non-trivial grouping expressions into a
      * `_groupingexpression` Project below the Aggregate (so the plan
      * groups by a bare attribute). That Project hides the scan shape
      * from signature matching — inline its alias definitions back into
      * the grouping/aggregate expressions and match against its child.
      * Only fires when the Project holds something beyond bare
      * attributes and same-name normalization casts (those belong to
      * the signature peeler), and every alias is deterministic and
      * aggregate-free. */
    private def inlineGroupingProject(groupings: Seq[Expression],
        aggExprs: Seq[NamedExpression], child: LogicalPlan)
        : (Seq[Expression], Seq[NamedExpression], LogicalPlan) = child match {
      case Project(ps, ch) if ps.forall {
            case _: AttributeReference => true
            case Alias(e, _) => e.deterministic &&
              !e.exists(_.isInstanceOf[AggregateExpression])
            case _ => false
          } && ps.exists {
            case Alias(Cast(ar: AttributeReference, _, _, _), n) => ar.name != n
            case _: Alias => true
            case _ => false
          } =>
        val defs = ps.collect { case al @ Alias(e, _) => al.exprId -> e }.toMap
        // a bare reference to an inlined alias at the TOP of the agg
        // list would stop being a NamedExpression after substitution
        if (aggExprs.exists {
          case ar: AttributeReference => defs.contains(ar.exprId)
          case _ => false
        }) return (groupings, aggExprs, child)
        def sub(e: Expression): Expression = e.transform {
          case ar: AttributeReference if defs.contains(ar.exprId) => defs(ar.exprId)
        }
        inlineGroupingProject(groupings.map(sub),
          aggExprs.map(x => sub(x).asInstanceOf[NamedExpression]), ch)
      case _ => (groupings, aggExprs, child)
    }

    /** Exact-shape substitution: signatureOf peels pruning Projects and
      * collects Filters; a query matches an MV when its scan+join shape
      * is identical, its predicate IMPLIES the MV's defining predicate
      * (filter subsumption — the MaterializedViewFilterScanRule /
      * SubstitutionVisitor analog), and the compensating residual
      * references grouping-key columns only (so it commutes with the
      * rollup and can re-apply on the MV). */
    private def exactRewrite(groupings: Seq[Expression],
        aggExprs: Seq[NamedExpression], child: LogicalPlan): Option[LogicalPlan] =
      signatureOf(child).flatMap { case (sig, filters) =>
        val conjs = filters.flatMap(splitAnd)
        candidates.iterator.flatMap { mv =>
          if (mv.signature != sig) None
          // rollup-ability first: it is the cheap check, and
          // unionTarget runs a full analyzer pass building the
          // residual subtree — never pay that for an aggregate the
          // MV cannot answer anyway
          else rollupExprs(mv, groupings, aggExprs).flatMap { case (g, a) =>
            compensation(mv, conjs, sig)
              .map(c => targetWithFilters(mv, c))
              .orElse(unionTarget(mv, conjs, sig))
              .map(child => Aggregate(g, a, child, None))
          }
        }.nextOption()
          .orElse(fkTileRewrite(groupings, aggExprs, sig, conjs))
      }

    /** Multiset containment: `b` removed from `a` leaf-by-leaf; Some =
      * the leftover leaves of `a`, None = `b` has a leaf `a` lacks. */
    private def bagDiff(a: Seq[Set[String]], b: Seq[Set[String]])
        : Option[Seq[Set[String]]] = {
      val rem = scala.collection.mutable.ArrayBuffer(a: _*)
      val ok = b.forall { l =>
        val i = rem.indexOf(l); if (i >= 0) { rem.remove(i); true } else false
      }
      if (ok) Some(rem.toSeq) else None
    }

    /** Constraint-based tile answering (ref: rel/rules/materialize/
      * MaterializedViewJoinRule compensation over
      * RelOptReferentialConstraint; Statistic.getReferentialConstraints):
      * a query over a SUBSET of a tile's star — most importantly the
      * fact table alone — is answered from the tile when every join the
      * tile has and the query lacks is proven LOSSLESS by a declared
      * foreign key (`catalog/Constraints`): FK→unique-key inner joins
      * add exactly one match per fact row, so every fact-side aggregate
      * and grouping is identical on the fact and on the star. The usual
      * compensation applies on the shared part: a tile carrying its own
      * dim-side filter is never implied by a fact-only query and stays
      * blocked. Union compensation is deliberately NOT offered on this
      * path — the residual would re-scan the star, not the fact; a
      * second tile is the right tool for a wider range.
      *
      * At 100 TB: ONE wide star tile answers every join-subset rollup —
      * without constraints each subset would need its own
      * materialization (or re-pay the fact scan). */
    private def fkTileRewrite(groupings: Seq[Expression],
        aggExprs: Seq[NamedExpression], sig: Signature,
        conjs: Seq[Expression]): Option[LogicalPlan] =
      candidates.iterator.flatMap { mv =>
        if (!fkCovers(mv, sig)) None
        else rollupExprs(mv, groupings, aggExprs).flatMap { case (g, a) =>
          compensation(mv, conjs, sig)
            .map(c => targetWithFilters(mv, c))
            // a strictly wider fact-side range unions the tile with a
            // FACT-ONLY residual slice (never the dims) — sound when the
            // whole partial layout is fact-computable (fkUnionTarget)
            .orElse(fkUnionTarget(mv, conjs, sig))
            .map(child => Aggregate(g, a, child, None))
        }
      }.nextOption()

    /** Is every join `mv` has beyond `sig` proven lossless by a declared
      * foreign key? (False when the signatures are identical — the exact
      * path owns that case.) */
    private def fkCovers(mv: MvDef, sig: Signature): Boolean =
      mv.signature != sig &&
        sig.joinPairs.subsetOf(mv.signature.joinPairs) &&
        bagDiff(mv.signature.leaves, sig.leaves).exists { extraLeaves =>
          val extraPairs = mv.signature.joinPairs -- sig.joinPairs
          // the extras must be a TREE of FK edges directed away from
          // the query's own leaves (Constraints.losslessExtension) —
          // per-pair coverage admitted fan-out extensions (a second
          // fact-like table hanging off a shared dim multiplies rows)
          extraLeaves.nonEmpty && extraPairs.nonEmpty &&
            graft.catalog.Constraints.losslessExtension(
              sig.leaves, extraLeaves, extraPairs)
        }

    /** JOIN compensation (ref: rel/rules/materialize/
      * MaterializedViewRules.java join variants + plan/
      * SubstitutionVisitor.java unification): a query whose join set
      * strictly contains the MV's star — extra inner equi-joins to
      * dimension tables, each bridged on columns the MV carries as
      * grouping keys (or on columns of an earlier dimension, the
      * snowflake case) — rewrites to
      * Aggregate(rollup-exprs, compensated-MV ⋈ dim₁ ⋈ … ⋈ dimₙ).
      *
      * Soundness: the extra joins' matching depends only on key columns,
      * which are constant within an MV group, so every source row of a
      * group matches exactly the dim rows the group's MV row matches.
      * MIN/MAX / DISTINCT value sets are preserved; SUM/COUNT/AVG of a
      * DIM column re-weight each dim match by the group's row count
      * (__mv_cnt) — the aggregate-join-transpose identity; star-column
      * aggregates roll up from partials exactly as the row-level join
      * would. NULL join keys drop the whole group on both plans (all
      * rows of a group share the key), keeping inner-join semantics
      * exact.
      *
      * At 100 TB this removes the fact-side shuffle entirely: the joins
      * run MV-rows × dimensions — typically all broadcast-small. */
    private def joinCompRewrite(groupings: Seq[Expression],
        aggExprs: Seq[NamedExpression], child: LogicalPlan): Option[LogicalPlan] = {
      // peel attribute-only projects/aliases/hints, collecting filters —
      // by rewrite time Catalyst has pushed predicates below the join,
      // but a conjunct can legally remain here (e.g. one it could not
      // push); same-name-cast projects are NOT peeled (they would break
      // attribute identity between the aggregate and the join output)
      @scala.annotation.tailrec
      def peel(p: LogicalPlan, fs: Seq[Expression]): (LogicalPlan, Seq[Expression]) = p match {
        case Project(ps, ch) if ps.forall(_.isInstanceOf[AttributeReference]) => peel(ch, fs)
        case logical.Filter(cond, ch) => peel(ch, fs ++ splitAnd(cond))
        case a: logical.SubqueryAlias => peel(a.child, fs)
        case h: logical.ResolvedHint => peel(h.child, fs)
        case other => (other, fs)
      }
      // descend the inner-join tree looking for a subtree whose
      // signature matches a registered MV; everything joined ABOVE that
      // subtree is collected as (dimension, condition) layers,
      // innermost first
      def findStar(p0: LogicalPlan, dims: List[(LogicalPlan, Expression)],
          above: Seq[Expression])
          : Option[(Signature, LogicalPlan, Seq[Expression], List[(LogicalPlan, Expression)])] = {
        val (p, fs) = peel(p0, above)
        val direct = signatureOf(p).collect {
          case (sig, starFs) if candidates.exists(_.signature == sig) =>
            (sig, p, fs ++ starFs, dims)
        }
        direct.orElse(p match {
          case j: Join if j.joinType == Inner && j.condition.isDefined =>
            findStar(j.left, (j.right, j.condition.get) :: dims, fs)
              .orElse(findStar(j.right, (j.left, j.condition.get) :: dims, fs))
          case _ => None
        })
      }
      // the exact path upstream already handles a dim-less match, so
      // require at least one dim layer; try every MV sharing the
      // signature (all carried partials are exact, any works)
      findStar(child, Nil, Nil).filter(_._4.nonEmpty).flatMap {
        case (sig, star, collected, dims) =>
          candidates.iterator
            .filter(_.signature == sig)
            .flatMap(mv => buildJoinComp(mv, star, collected, dims,
              groupings, aggExprs))
            .nextOption()
      }
    }

    /** Assemble the compensated plan for one (MV, star-subtree, dims)
      * decomposition, or None when a condition/filter/aggregate falls
      * outside what the MV can answer. */
    private def buildJoinComp(mv: MvDef, star: LogicalPlan,
        collected: Seq[Expression], dims: List[(LogicalPlan, Expression)],
        groupings: Seq[Expression], aggExprs: Seq[NamedExpression])
        : Option[LogicalPlan] = {
      val starOut = star.outputSet
      val dimOut = org.apache.spark.sql.catalyst.expressions.AttributeSet(
        dims.flatMap(_._1.output))
      // every join-condition conjunct must be attr=attr where each
      // star-side column is an MV grouping key (dim-side attrs pass
      // through, covering dim-to-dim snowflake bridges)
      def condOk(e: Expression): Boolean = splitAnd(e).forall {
        case EqualTo(a: AttributeReference, b: AttributeReference) =>
          Seq(a, b).forall(at => dimOut.contains(at) ||
            (starOut.contains(at) && mv.keys.contains(at.name)))
        case _ => false
      }
      if (!dims.forall { case (_, cond) => condOk(cond) }) return None
      // filters collected along the way must split cleanly: star-side
      // conjuncts join the MV compensation, dim-side conjuncts re-apply
      // above the compensated join
      val (starAbove, rest) = collected.partition(_.references.subsetOf(starOut))
      val (dimAbove, mixed) = rest.partition(_.references.subsetOf(dimOut))
      if (mixed.nonEmpty) return None
      val conjs = starAbove.flatMap(splitAnd)

      rollupExprs(mv, groupings, aggExprs, dimOut).flatMap { case (g, a) =>
        compensation(mv, conjs, mv.signature)
          .map(c => targetWithFilters(mv, c))
          .orElse(unionTarget(mv, conjs, mv.signature))
          .map { newStar =>
            def rebind(e: Expression): Expression = e.transform {
              case at: AttributeReference if starOut.contains(at) =>
                val out = mv.targetOut(at.name)
                if (out.dataType == at.dataType) out
                else Cast(out, at.dataType, Some(conf.sessionLocalTimeZone))
            }
            val joined = dims.foldLeft(newStar: LogicalPlan) {
              case (acc, (dim, cond)) =>
                Join(acc, dim, Inner, Some(rebind(cond)), logical.JoinHint.NONE)
            }
            val filtered = dimAbove.foldLeft(joined)(
              (p, f) => logical.Filter(f, p))
            Aggregate(g, a, filtered, None)
          }
      }
    }

    /** GROUPING SETS / ROLLUP / CUBE answered from a tile (ref:
      * rel/rules/AggregateStarTableRule.java + materialize/Lattice.java
      * — a tile whose keys cover every grouping column answers any
      * grouping-set query over them). Catalyst plans grouping sets as
      * Aggregate over Expand: each source row is replicated once per
      * grouping set, with the keys OUTSIDE that set nulled and a
      * grouping-id literal appended. Substituting the tile below the
      * SAME Expand is exact — all rows of a tile group share every key,
      * so nulling a key per set merges whole groups, which is precisely
      * what the partial merge computes. The rewrite:
      *   - re-points Expand's child at the compensated tile (filter
      *     subsumption / union compensation, as in the exact path);
      *   - routes the needed tile columns (partials + keys the
      *     aggregates read) THROUGH Expand as passthrough outputs;
      *   - rewrites each grouping ENTRY (a key attribute, by name) to
      *     the tile's key column, keeping Catalyst's null/grouping-id
      *     literals verbatim;
      *   - converts the aggregate functions to partial merges
      *     (rollupAgg) over the passthrough attributes.
      * The Aggregate's own grouping attributes and grouping-id keep
      * their exprIds, so nothing above the node re-resolves. At 100 TB
      * this is the cube-dashboard play: one day×dim tile answers every
      * ROLLUP/CUBE panel with zero fact scans. */
    private def expandRewrite(groupings: Seq[Expression],
        aggExprs: Seq[NamedExpression], expand: logical.Expand): Option[LogicalPlan] = {
      def seqOpt[A](xs: Seq[Option[A]]): Option[Seq[A]] =
        if (xs.forall(_.isDefined)) Some(xs.map(_.get)) else None
      if (!groupings.forall(_.isInstanceOf[AttributeReference])) return None
      // Catalyst extracts a non-trivial grouping expression (year(d) in
      // ROLLUP(year(d), ...)) into the Project below Expand and lets the
      // grouping ENTRIES reference its alias. Collect those definitions —
      // a key-DERIVED entry rebinds through them (the time-hierarchy ×
      // grouping-sets shape: one day tile answers every year/month
      // ROLLUP panel) — and strip them for signature extraction, which
      // otherwise rejects the Project.
      val exprDefs = expand.child match {
        case Project(ps, _) => ps.collect {
          case al @ Alias(e, _) if e.deterministic &&
              !e.exists(_.isInstanceOf[AggregateExpression]) => al.exprId -> e
        }.toMap
        case _ => Map.empty[org.apache.spark.sql.catalyst.expressions.ExprId, Expression]
      }
      val sigPlan = expand.child match {
        case Project(ps, ch) if ps.exists {
          case Alias(Cast(a: AttributeReference, _, _, _), n) => a.name != n
          case _: Alias => true
          case _ => false
        } => Project(ps.filter {
          case _: AttributeReference => true
          case Alias(Cast(a: AttributeReference, _, _, _), n) => a.name == n
          case _ => false
        }, ch)
        case other => other
      }
      signatureOf(sigPlan).flatMap { case (sig, filters) =>
        val childOut = expand.child.outputSet
        // grouping positions carry fresh attributes (key-or-null copies
        // + the grouping-id); passthrough positions reuse the child's
        // exprIds — that identity is how Catalyst builds Expand
        val groupPos = expand.output.zipWithIndex.filterNot {
          case (a, _) => childOut.contains(a)
        }
        // aggregate arguments must read PASSTHROUGH columns only: an
        // aggregate over a nulled grouping copy (e.g. MIN(status) of the
        // per-set column) does not commute with the tile merge
        val aggArgRefs = aggExprs.flatMap(_.collect {
          case ae: AggregateExpression => ae.references
        }).foldLeft(org.apache.spark.sql.catalyst.expressions.AttributeSet.empty)(_ ++ _)
        val conjs = filters.flatMap(splitAnd)
        val groupingAttrSet = org.apache.spark.sql.catalyst.expressions.AttributeSet(
          groupings.flatMap(_.references))
        candidates.iterator.flatMap { mv =>
          if (!aggArgRefs.subsetOf(childOut)) None
          else
          // the tile answers its own signature, or a join-SUBSET of its
          // star when declared foreign keys prove the extra joins
          // lossless (fkCovers — the fact-only grouping-sets panel)
          if (mv.signature != sig && !fkCovers(mv, sig)) None
          else {
            // tile columns the rewritten plan reads, routed through
            // Expand: one passthrough attribute per partial/key name,
            // allocated on first use (nullable — a union-compensated
            // target may widen nullability)
            val passed = scala.collection.mutable.LinkedHashMap[String, Attribute]()
            def lookup(name: String): Expression = passed.getOrElseUpdate(name,
              mv.targetOut(name).newInstance().withNullability(true))
            val rollup = rollupAgg(mv, lookup,
              org.apache.spark.sql.catalyst.expressions.AttributeSet.empty) _
            val newAggExprs = seqOpt(aggExprs.map {
              case a: AttributeReference if groupingAttrSet.contains(a) =>
                Some(a: NamedExpression)
              // any deterministic expression over the GROUPING outputs
              // (a bare copy, or a Cast the optimizer collapsed into the
              // select list) passes through — those attrs keep their
              // exprIds across the rewrite
              case al @ Alias(e, _) if e.deterministic &&
                  !e.exists(_.isInstanceOf[AggregateExpression]) &&
                  e.references.nonEmpty &&
                  e.references.subsetOf(groupingAttrSet) =>
                Some(al: NamedExpression)
              case al @ Alias(ae: AggregateExpression, nm)
                  if !ae.isDistinct && ae.filter.isEmpty =>
                rollup(ae.aggregateFunction)
                  .map(e => Alias(e, nm)(exprId = al.exprId): NamedExpression)
              // a Cast the optimizer collapsed around the aggregate
              // commutes with the rollup, as in the exact path
              case al @ Alias(c @ Cast(ae: AggregateExpression, _, _, _), nm)
                  if !ae.isDistinct && ae.filter.isEmpty =>
                rollup(ae.aggregateFunction)
                  .map(e => Alias(c.copy(child = e), nm)(exprId = al.exprId): NamedExpression)
              // COUNT(DISTINCT key): the tile carries each key combination
              // once per group, so the distinct count re-aggregates over
              // the key passthrough exactly (duplicated rows from a
              // union-compensated target dedup away) — as in the exact path
              case al @ Alias(ae: AggregateExpression, nm)
                  if ae.isDistinct && ae.filter.isEmpty =>
                (ae.aggregateFunction match {
                  case Count(Seq(a: AttributeReference)) if mv.keys.contains(a.name) =>
                    Some(Count(lookup(a.name)).toAggregateExpression(isDistinct = true))
                  case _ => None
                }).map(e => Alias(e, nm)(exprId = al.exprId): NamedExpression)
              case _ => None
            })
            // each grouping ENTRY is a tile key, a key-DERIVED expression
            // (via the extracted Project alias — equal keys imply equal
            // value, so the set-merge IS the partial merge, as in the
            // exact path's keyDerived groupings), or one of Catalyst's
            // planted literals (typed null / grouping-id). Key references
            // rebind by name, a cast closing the loader's
            // type-normalization gap.
            def keyExpr(e: Expression): Option[Expression] =
              if (e.deterministic && e.references.nonEmpty &&
                  !e.exists(_.isInstanceOf[AggregateExpression]) &&
                  e.references.forall(a => mv.keys.contains(a.name)))
                Some(e.transform {
                  case a: AttributeReference if mv.keys.contains(a.name) =>
                    val out = mv.targetOut(a.name)
                    if (out.dataType == a.dataType) out
                    else Cast(out, a.dataType, Some(conf.sessionLocalTimeZone))
                })
              else None
            // exprId lookup FIRST: a grouping alias that merely shares a
            // tile key's NAME (e.g. date_trunc(..).as("o_orderdate"))
            // must rebind through its definition, never to the raw key —
            // the same exprId-before-name rule rollupExprs documents
            def entryOf(e: Expression): Option[Expression] = e match {
              case a: AttributeReference if exprDefs.contains(a.exprId) =>
                keyExpr(exprDefs(a.exprId))
              case a: AttributeReference if mv.keys.contains(a.name) => keyExpr(a)
              case l: Literal => Some(l)
              case _ => None
            }
            val groupRows = seqOpt(expand.projections.map(row =>
              seqOpt(groupPos.map { case (_, i) => entryOf(row(i)) })))
            (newAggExprs, groupRows) match {
              case (Some(aggs), Some(rows)) =>
                compensation(mv, conjs, sig)
                  .map(c => targetWithFilters(mv, c))
                  // exact-signature tiles union their own residual; an
                  // FK-matched tile unions a FACT-ONLY residual slice
                  // (fkUnionTarget — never the star). Sound under
                  // Expand for the same reason the covered path is: the
                  // union contributes one more generation of partials,
                  // and the per-set merge treats generations alike.
                  .orElse(if (mv.signature == sig)
                    unionTarget(mv, conjs, sig)
                  else fkUnionTarget(mv, conjs, sig))
                  .map { target =>
                    val passSeq = passed.toSeq
                    val newOutput = passSeq.map(_._2) ++ groupPos.map(_._1)
                    val newProjections = rows.map(groupEntries =>
                      passSeq.map { case (n, _) => mv.targetOut(n): Expression } ++
                        groupEntries)
                    Aggregate(groupings, aggs,
                      logical.Expand(newProjections, newOutput, target), None)
                  }
              case _ => None
            }
          }
        }.nextOption()
      }
    }

    /** A column-range conjunct `col op literal` in normalized form. */
    private final case class RangePred(col: String, op: String, lit: Literal)

    private def asRange(e: Expression): Option[RangePred] = e match {
      case EqualTo(a: AttributeReference, l: Literal) => Some(RangePred(a.name, "=", l))
      case EqualTo(l: Literal, a: AttributeReference) => Some(RangePred(a.name, "=", l))
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) => Some(RangePred(a.name, ">=", l))
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) => Some(RangePred(a.name, "<=", l))
      case GreaterThan(a: AttributeReference, l: Literal) => Some(RangePred(a.name, ">", l))
      case GreaterThan(l: Literal, a: AttributeReference) => Some(RangePred(a.name, "<", l))
      case LessThanOrEqual(a: AttributeReference, l: Literal) => Some(RangePred(a.name, "<=", l))
      case LessThanOrEqual(l: Literal, a: AttributeReference) => Some(RangePred(a.name, ">=", l))
      case LessThan(a: AttributeReference, l: Literal) => Some(RangePred(a.name, "<", l))
      case LessThan(l: Literal, a: AttributeReference) => Some(RangePred(a.name, ">", l))
      case _ => None
    }

    private def litTrue(e: Expression): Boolean =
      scala.util.Try(e.eval(null) == true).getOrElse(false)

    /** Does range predicate q imply range predicate m (same column)?
      * Sound, not complete: literal comparisons evaluate through
      * Catalyst, type mismatches conservatively fail. NTZ-vs-TIMESTAMP
      * literal pairs compare as raw micros, which is only wall-clock
      * sound under the UTC session — refuse the implication elsewhere. */
    private def rangeImplies(q0: RangePred, m0: RangePred): Boolean = {
      val q = q0.copy(lit = normalizeNtz(q0.lit).asInstanceOf[Literal])
      val m = m0.copy(lit = normalizeNtz(m0.lit).asInstanceOf[Literal])
      if (q.lit.dataType != m.lit.dataType &&
          Seq(q.lit.dataType, m.lit.dataType).exists(
            _ == org.apache.spark.sql.types.TimestampNTZType)) return false
      q.col == m.col && ((q.op, m.op) match {
        case (_, "=")    => q.op == "=" && litTrue(EqualTo(q.lit, m.lit))
        case ("=", ">=") => litTrue(GreaterThanOrEqual(q.lit, m.lit))
        case (">=", ">=") => litTrue(GreaterThanOrEqual(q.lit, m.lit))
        case (">", ">=") => litTrue(GreaterThanOrEqual(q.lit, m.lit))
        case ("=", ">")  => litTrue(GreaterThan(q.lit, m.lit))
        case (">", ">")  => litTrue(GreaterThanOrEqual(q.lit, m.lit))
        case (">=", ">") => litTrue(GreaterThan(q.lit, m.lit))
        case ("=", "<=") => litTrue(LessThanOrEqual(q.lit, m.lit))
        case ("<=", "<=") => litTrue(LessThanOrEqual(q.lit, m.lit))
        case ("<", "<=") => litTrue(LessThanOrEqual(q.lit, m.lit))
        case ("=", "<")  => litTrue(LessThan(q.lit, m.lit))
        case ("<", "<")  => litTrue(LessThanOrEqual(q.lit, m.lit))
        case ("<=", "<") => litTrue(LessThan(q.lit, m.lit))
        case _ => false
      })
    }

    /** Filters Catalyst pushed below the loader's TIMESTAMP_NTZ→
      * TIMESTAMP normalization Project carry NTZ-typed literals while
      * the MV's (registered above it) carry TIMESTAMP — under a
      * pinned-UTC session the two are wall-clock identical, so fold NTZ
      * literals onto TIMESTAMP before any comparison. In a non-UTC
      * session the identity does NOT hold; callers must treat
      * mixed-type literal comparisons as unknown there. */
    private def normalizeNtz(e: Expression): Expression =
      if (conf.sessionLocalTimeZone == "UTC") e.transformUp {
        case Literal(v, org.apache.spark.sql.types.TimestampNTZType) =>
          Literal(v, org.apache.spark.sql.types.TimestampType)
      } else e

    /** Canonical name-based SQL form for conjunct equality. */
    private def canonSql(e: Expression): String = normalizeNtz(e).sql

    /** Catalyst-inferred isnotnull conjuncts that are vacuous — on a
      * join key (the MV's inner join discarded null keys) or alongside
      * a range predicate on the same column (which already rejects
      * nulls) — dropped before implication/compensation reasoning. */
    private def dropVacuousNotNull(mv: MvDef, conjsAll: Seq[Expression],
        sig: Signature): Seq[Expression] = {
      val joinCols = sig.joinPairs.flatMap(p => Seq(p._1, p._2))
      val rangeCols = (conjsAll ++ mv.filterConjuncts).flatMap(asRange).map(_.col).toSet
      conjsAll.filterNot {
        case IsNotNull(a: AttributeReference) =>
          joinCols.contains(a.name) || rangeCols.contains(a.name)
        case _ => false
      }
    }

    /** q ⇒ m: exact name-based equality (attribute SQL form carries no
      * exprIds) or literal-range subsumption on the same column. */
    private def implies(q: Expression, m: Expression): Boolean =
      canonSql(q) == canonSql(m) || ((asRange(q), asRange(m)) match {
        case (Some(a), Some(b)) => rangeImplies(a, b)
        case _ => false
      })

    /** The compensating conjuncts to re-apply on the MV, or None when
      * the query cannot be answered from it. Requirements:
      *   1. every MV defining conjunct is implied by some query conjunct
      *      (else the MV is missing rows the query needs);
      *   2. query conjuncts not exactly absorbed by an MV conjunct must
      *      reference MV key columns only (they re-apply on the rollup).
      * Vacuous isnotnull conjuncts are dropped first
      * (dropVacuousNotNull). */
    private def compensation(mv: MvDef, conjsAll: Seq[Expression],
        sig: Signature): Option[Seq[Expression]] = {
      val conjs = dropVacuousNotNull(mv, conjsAll, sig)
      val implied = mv.filterConjuncts.forall(m => conjs.exists(q => implies(q, m)))
      if (!implied) return None
      val mvCanon = mv.filterConjuncts.map(canonSql).toSet
      val comp = conjs.filterNot(q => mvCanon.contains(canonSql(q)))
      if (comp.forall(_.references.forall(a => mv.keys.contains(a.name)))) Some(comp)
      else None
    }

    /** The compensated substitution target: key-only filters commute
      * with the rollup and re-apply on the MV, with references rebound
      * to its attributes. A filter Catalyst pushed below the loader's
      * type-normalization Project references the pre-cast type
      * (TIMESTAMP_NTZ) — cast the rebound attribute back so the
      * comparison stays resolved. */
    private def targetWithFilters(mv: MvDef, filters: Seq[Expression]): LogicalPlan =
      filters.foldLeft(mv.target) { (t, cond) =>
        logical.Filter(cond.transform {
          case a: AttributeReference if mv.keys.contains(a.name) =>
            val out = mv.targetOut(a.name)
            if (out.dataType == a.dataType) out
            else Cast(out, a.dataType, Some(conf.sessionLocalTimeZone))
        }, t)
      }

    /** Range negation for the union-compensation residual. */
    private def negate(e: Expression): Option[Expression] = e match {
      case GreaterThanOrEqual(a, b) => Some(LessThan(a, b))
      case GreaterThan(a, b) => Some(LessThanOrEqual(a, b))
      case LessThanOrEqual(a, b) => Some(GreaterThan(a, b))
      case LessThan(a, b) => Some(GreaterThanOrEqual(a, b))
      case _ => None
    }

    /** UNION compensation (the reference's partial-coverage rewrite,
      * MaterializedViewRules union case): the query's range is strictly
      * WIDER than the MV's on exactly one conjunct, so answer it as
      *   rollup( MV-partials ∪ partial-agg(base WHERE shared ∧ q ∧ ¬m) )
      * — the fact relation is scanned ONLY for the residual slice (a
      * pure conjunction, so it pushes to the scan), the covered slice
      * comes from the cache. NULL keys fail q on both paths, so the
      * union is exact. The two sides may share any number of EXACTLY
      * matching conjuncts (canonical-SQL equality) — e.g. a region
      * equality carried by both the MV and the query — as long as the
      * leftover is one range conjunct per side on the same column with
      * the MV's slice strictly inside the query's. A residual with two
      * widened ranges would be a disjunction that defeats pushdown,
      * which is when a user materializes a second tile instead. */
    private def unionTarget(mv: MvDef, conjsAll: Seq[Expression],
        sig: Signature): Option[LogicalPlan] =
      residualSlicePred(mv, conjsAll, sig)
        .flatMap(residual => unionWithResidual(mv, mv.baseDf, residual))

    /** The residual slice's predicate (q ∧ ¬m ∧ shared) when the query's
      * range is strictly wider than the MV's on exactly one conjunct —
      * the admissibility half of union compensation; None otherwise. */
    private def residualSlicePred(mv: MvDef, conjsAll: Seq[Expression],
        sig: Signature): Option[Expression] = {
      // an MV fed deltas that are NOT in the source files (stream
      // maintenance, ad-hoc refresh) answers covered slices from its
      // exact cached partials, but a residual FILE scan would miss those
      // rows — refuse union compensation for it
      if (!mv.unionSafe) return None
      val conjs = dropVacuousNotNull(mv, conjsAll, sig)
      val mCanon = mv.filterConjuncts.map(canonSql).toSet
      val qCanon = conjs.map(canonSql).toSet
      val sharedKeys = mCanon intersect qCanon
      val mRest = mv.filterConjuncts.filterNot(c => sharedKeys.contains(canonSql(c)))
      val qRest = conjs.filterNot(c => sharedKeys.contains(canonSql(c)))
      // the query-side spellings of the shared conjuncts re-apply on the
      // residual slice (the MV's cached side already satisfies them)
      val shared = conjs.filter(c => sharedKeys.contains(canonSql(c)))
      if (mRest.size != 1 || qRest.size != 1) return None
      val (m, q) = (mRest.head, qRest.head)
      val (mR, qR) = (asRange(m), asRange(q)) match {
        case (Some(a), Some(b)) if a.col == b.col => (a, b)
        case _ => return None
      }
      // the MV's slice must sit strictly INSIDE the query's range
      if (!rangeImplies(mR, qR) || canonSql(m) == canonSql(q)) return None
      val negM = negate(m).getOrElse(return None)
      Some((Seq(q, negM) ++ shared).reduce(And))
    }

    /** Union the MV's cached partials with `residual` partial-aggregated
      * over `base` — the assembly half of union compensation. `base` is
      * the MV's own unfiltered source (exact-signature path), or the
      * query-shaped FACT subset (FK path, where the lossless joins make
      * fact-only partials equal the star's). */
    private def unionWithResidual(mv: MvDef, base: DataFrame,
        residual: Expression): Option[LogicalPlan] = {
      // rebind the predicate to the base relation's attributes by name;
      // analysis only (no optimizer re-entry)
      val baseOut = base.queryExecution.analyzed.output
        .map(a => a.name -> (a: Expression)).toMap
      val refs = residual.references.map(_.name).toSet
      if (!refs.forall(baseOut.contains)) return None
      // a conjunct Catalyst pushed below the loader's normalization
      // Project carries TIMESTAMP_NTZ literals; the base relation's
      // surface is TIMESTAMP — normalize (UTC-gated) so the analyzer
      // resolves the rebound comparison
      val bound = normalizeNtz(residual).transform {
        case a: AttributeReference => baseOut(a.name)
      }
      val cols = partialAggCols(mv.sumsSeq, mv.minsSeq, mv.maxsSeq, mv.approxSeq,
        mv.sumExprCols, mv.cntnsSeq)
      val resid = base
        .filter(org.apache.spark.sql.GraftSqlBridge.column(bound))
        .groupBy(mv.keysSeq.map(col): _*)
        .agg(cols.head, cols.tail: _*)
      // splice the OPTIMIZED residual: this rule runs in the final
      // user-provided batch, after logical column pruning — an analyzed
      // splice would keep the loader's all-column normalization Project
      // and read every column off the fact scan. Optimizing here prunes
      // the residual's ReadSchema to keys + aggregated columns.
      Some(logical.Union(Seq(mv.target, resid.queryExecution.optimizedPlan),
        byName = false, allowMissingCol = false))
    }

    /** FK union compensation (ref: rel/rules/materialize/
      * MaterializedViewAggregateRule.java union rewriting, composed with
      * the constraint-based join compensation): a FACT-SIDE query whose
      * range is strictly wider than the star tile's unions the tile's
      * cached partials with a partial aggregate over the FACT-ONLY
      * residual slice — the dims are never scanned. Sound exactly when
      * the tile's whole partial LAYOUT (keys, partial arguments, derived
      * measures, the residual predicate) is computable from the query's
      * own fact relation: the declared-FK joins add exactly one match
      * per fact row, so the star's partials over the residual slice
      * EQUAL the fact-only partials. A layout touching any dim column
      * fails analysis below and refuses (a second tile is the right tool
      * there).
      *
      * At 100 TB: the nightly dashboard widening its window by a day
      * scans one day of the FACT — not the star, not the dims. */
    private def fkUnionTarget(mv: MvDef, conjsAll: Seq[Expression],
        sig: Signature): Option[LogicalPlan] =
      residualSlicePred(mv, conjsAll, sig).flatMap { residual =>
        try {
          val spark = org.apache.spark.sql.SparkSession.active
          // the query's own relation shape (the fact, or a join subset
          // of the star), at the REGISTERED source types — a same-name
          // cast the tile's source carried re-applies so the residual
          // partials union positionally at identical types
          val raw = rebuildJoin(spark, sig.leaves.map(_.toSeq),
            sig.joinPairs.toSeq)
          val base = raw.select(raw.columns.map { c =>
            mv.srcTypes.get(c) match {
              case Some(t) if t != raw.schema(c).dataType => col(c).cast(t).as(c)
              case _ => col(c)
            }
          }.toIndexedSeq: _*)
          unionWithResidual(mv, base, residual)
        } catch {
          // any column of the tile's layout missing from the fact side
          // surfaces as an analysis error — the rewrite just declines
          case scala.util.control.NonFatal(_) => None
        }
      }

    /** Rewrite ONE aggregate function into its partial-merge form over
      * the MV's carried columns, or None when the MV cannot answer it.
      * `tout` resolves a target-output column NAME (a partial like
      * `__mv_sum_x`, or a grouping key) to the expression that carries
      * it in the rewritten plan — the exact/join paths pass
      * `mv.targetOut` (the cached relation's own attributes); the
      * grouping-sets path passes a lookup that routes the same columns
      * THROUGH the Expand node. `dimOut` is the compensated dimensions'
      * output (join path only): dim-column aggregates re-weight by the
      * carried group count — the aggregate-join-transpose identity.
      * Decimal dim columns are left blocked (the weighted product would
      * re-type the result). */
    private def rollupAgg(mv: MvDef, tout: String => Expression,
        dimOut: org.apache.spark.sql.catalyst.expressions.AttributeSet)
        (fn: AggregateFunction): Option[Expression] = {
      def cntAttr: Expression = tout("__mv_cnt")
      def weighted(a: AttributeReference): Option[Expression] = a.dataType match {
        case org.apache.spark.sql.types.DoubleType | org.apache.spark.sql.types.FloatType =>
          Some(org.apache.spark.sql.catalyst.expressions.Multiply(
            Cast(a, DoubleType), Cast(cntAttr, DoubleType)))
        case org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
            org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType =>
          Some(org.apache.spark.sql.catalyst.expressions.Multiply(
            Cast(a, org.apache.spark.sql.types.LongType),
            Cast(cntAttr, org.apache.spark.sql.types.LongType)))
        case _ => None
      }
      // COUNT(dim-col) = Σ over pairs where the dim value is non-null of
      // the group count
      def dimCount(a: AttributeReference): Expression =
        Sum(org.apache.spark.sql.catalyst.expressions.If(
          IsNotNull(a), Cast(cntAttr, org.apache.spark.sql.types.LongType),
          Literal(0L))).toAggregateExpression()

      // derived-measure lookup: does this aggregate argument match one
      // of the MV's registered defining expressions (canonical folded
      // SQL — attribute SQL carries no exprIds, so the comparison is
      // name-based like every other matching step)? Dim attributes must
      // not leak into the match.
      def derivedOf(e: Expression): Option[String] =
        if (mv.sumDefs.isEmpty || e.isInstanceOf[AttributeReference] ||
            e.references.exists(dimOut.contains)) None
        else mv.sumDefs.get(foldLiterals(e).sql)

      fn match {
        // MIN/MAX over a DIM column (join compensation): the value set
        // per group is preserved by the MV-side join, so the function
        // re-applies unchanged
        case Min(a: AttributeReference) if dimOut.contains(a) =>
          Some(Min(a).toAggregateExpression())
        case Max(a: AttributeReference) if dimOut.contains(a) =>
          Some(Max(a).toAggregateExpression())
        case Sum(a: AttributeReference, _) if dimOut.contains(a) =>
          weighted(a).map(w =>
            Cast(Sum(w).toAggregateExpression(), fn.dataType))
        case Count(Seq(a: AttributeReference)) if dimOut.contains(a) =>
          Some(dimCount(a))
        case avg: Average if avg.child.isInstanceOf[AttributeReference] &&
            dimOut.contains(avg.child.asInstanceOf[AttributeReference]) =>
          val a = avg.child.asInstanceOf[AttributeReference]
          weighted(a).map { w =>
            val s = Sum(w).toAggregateExpression()
            Cast(Divide(Cast(s, DoubleType), Cast(dimCount(a), DoubleType)),
              fn.dataType)
          }
        case Sum(a: AttributeReference, _) if mv.sums.contains(a.name) =>
          val inner = Sum(tout(s"__mv_sum_${a.name}")).toAggregateExpression()
          Some(if (inner.dataType == fn.dataType) inner else Cast(inner, fn.dataType))
        case Min(a: AttributeReference) if mv.mins.contains(a.name) =>
          Some(Min(tout(s"__mv_min_${a.name}")).toAggregateExpression())
        case Max(a: AttributeReference) if mv.maxs.contains(a.name) =>
          Some(Max(tout(s"__mv_max_${a.name}")).toAggregateExpression())
        // MIN/MAX of a GROUPING-KEY column: the MV carries every key
        // combination as a row, so min/max re-aggregate over the key
        // column directly — no partial needed
        case Min(a: AttributeReference) if mv.keys.contains(a.name) =>
          Some(Min(tout(a.name)).toAggregateExpression())
        case Max(a: AttributeReference) if mv.keys.contains(a.name) =>
          Some(Max(tout(a.name)).toAggregateExpression())
        case Count(Seq(Literal(_, _))) if mv.hasCount =>
          Some(Sum(tout("__mv_cnt")).toAggregateExpression())
        // COUNT(x): the per-column non-null partial counts (carried for
        // the AVG rollup, or registered count-only for non-summable
        // types) sum to exactly COUNT(x)
        case Count(Seq(a: AttributeReference))
            if mv.sums.contains(a.name) || mv.cntns.contains(a.name) =>
          Some(Sum(tout(s"__mv_cntn_${a.name}")).toAggregateExpression())
        case avg: Average => avg.child match {
          // AVG(x) = SUM(partial sums) / SUM(partial non-null counts)
          case a: AttributeReference if mv.sums.contains(a.name) =>
            val s = Sum(tout(s"__mv_sum_${a.name}")).toAggregateExpression()
            val c = Sum(tout(s"__mv_cntn_${a.name}")).toAggregateExpression()
            Some(Cast(Divide(Cast(s, DoubleType), Cast(c, DoubleType)), fn.dataType))
          case e if derivedOf(e).isDefined =>
            val n = derivedOf(e).get
            val s = Sum(tout(s"__mv_sum_$n")).toAggregateExpression()
            val c = Sum(tout(s"__mv_cntn_$n")).toAggregateExpression()
            Some(Cast(Divide(Cast(s, DoubleType), Cast(c, DoubleType)), fn.dataType))
          case _ => None
        }
        // DERIVED MEASURES (the reference lattice's measure expressions,
        // materialize/Lattice.java Measure.args — e.g. revenue =
        // price * (1 - discount)): the aggregate's ARGUMENT matches a
        // registered defining expression by canonical folded SQL, so
        // SUM/COUNT roll up from the carried partials exactly as a
        // plain column would
        case Sum(e, _) if derivedOf(e).isDefined =>
          val inner = Sum(tout(s"__mv_sum_${derivedOf(e).get}"))
            .toAggregateExpression()
          Some(if (inner.dataType == fn.dataType) inner else Cast(inner, fn.dataType))
        case Count(Seq(e)) if derivedOf(e).isDefined =>
          Some(Sum(tout(s"__mv_cntn_${derivedOf(e).get}")).toAggregateExpression())
        // APPROX_COUNT_DISTINCT(x) rolls up from the carried HLL sketch
        // partials: union the per-group sketches, then estimate — the
        // reference's lattice-tile HLL column stats
        // (profile/ProfilerImpl.java:577-659). Only the APPROXIMATE
        // function substitutes; an exact COUNT(DISTINCT x) on a non-key
        // stays blocked below (a sketch estimate must never contaminate
        // an exact path). The rsd guard keeps the substitution within
        // contract: the carried Datasketches partial (lgK=12, ~1.63%
        // standard error) may only answer requests whose tolerance is
        // looser — a tighter-than-sketch relativeSD must run unrewritten.
        case hpp: HyperLogLogPlusPlus if hpp.relativeSD >= 0.0165 => hpp.child match {
          case a: AttributeReference if mv.approxes.contains(a.name) =>
            Some(org.apache.spark.sql.catalyst.expressions.HllSketchEstimate(
              HllUnionAgg(tout(s"__mv_hll_${a.name}"), Literal(true))
                .toAggregateExpression()))
          case _ => None
        }
        case _ => None
      }
    }

    /** The rolled-up grouping + aggregate expressions over the MV's
      * output, or None when the query's shape cannot be answered from
      * the carried partials. Pure expression work — the cheap
      * admissibility check that runs BEFORE any target construction.
      * `dimOut` (join compensation only) is the extra dimension's output:
      * its attributes pass through verbatim — matched by exprId FIRST so
      * a dim column that merely shares an MV key's name never rebinds to
      * the wrong side. */
    private def rollupExprs(mv: MvDef, groupings: Seq[Expression],
        aggExprs: Seq[NamedExpression],
        dimOut: org.apache.spark.sql.catalyst.expressions.AttributeSet =
          org.apache.spark.sql.catalyst.expressions.AttributeSet.empty)
        : Option[(Seq[Expression], Seq[NamedExpression])] = {
      // a deterministic expression whose every reference is an MV
      // grouping key (or a compensated-dim column) commutes with the
      // rollup: equal keys ⇒ equal expression value, so grouping by it
      // merely MERGES MV groups — which is exactly what the partial
      // merge computes (the lattice time-hierarchy rollup:
      // GROUP BY year(d) answered from a day-keyed tile)
      def keyDerived(e: Expression): Boolean =
        e.deterministic && e.references.nonEmpty &&
          !e.exists(_.isInstanceOf[AggregateExpression]) &&
          e.references.forall(a =>
            dimOut.contains(a) || mv.keys.contains(a.name))
      def rebindKeys(e: Expression): Expression = e.transform {
        case a: AttributeReference if !dimOut.contains(a) &&
            mv.keys.contains(a.name) =>
          val out = mv.targetOut(a.name)
          // a grouping expression inlined from below the loader's
          // normalization Project references the pre-cast type — close
          // the gap like targetWithFilters does
          if (out.dataType == a.dataType) out
          else Cast(out, a.dataType, Some(conf.sessionLocalTimeZone))
      }
      // grouping keys must be bare attributes covered by the MV keys,
      // attributes of the compensated dimension (kept as-is), or
      // key-derived expressions (rebound)
      val newGroupings = groupings.map {
        case a: AttributeReference if dimOut.contains(a) => Some(a)
        case a: AttributeReference if mv.keys.contains(a.name) =>
          Some(mv.targetOut(a.name))
        case e if keyDerived(e) => Some(rebindKeys(e))
        case _ => None
      }
      if (newGroupings.exists(_.isEmpty)) return None

      val rollup = rollupAgg(mv, mv.targetOut, dimOut) _

      val newAggExprs = aggExprs.map {
        case a: AttributeReference if dimOut.contains(a) => Some(a)
        case a: AttributeReference if mv.keys.contains(a.name) =>
          Some(Alias(mv.targetOut(a.name), a.name)(exprId = a.exprId))
        // grouping-expression pass-through (the SELECT-list copy of a
        // key-derived grouping like year(d)): rebind its key references
        case al @ Alias(e, nm) if keyDerived(e) =>
          Some(Alias(rebindKeys(e), nm)(exprId = al.exprId))
        case al @ Alias(ae: AggregateExpression, nm)
            if !ae.isDistinct && ae.filter.isEmpty =>
          rollup(ae.aggregateFunction).map(e => Alias(e, nm)(exprId = al.exprId))
        // a Cast the optimizer collapsed into the aggregate list (e.g.
        // `sum(x) ... .cast("double")` projected away) commutes with the
        // rollup: re-apply it around the rolled-up expression
        case al @ Alias(c @ Cast(ae: AggregateExpression, _, _, _), nm)
            if !ae.isDistinct && ae.filter.isEmpty =>
          rollup(ae.aggregateFunction).map(e =>
            Alias(c.copy(child = e), nm)(exprId = al.exprId))
        // COUNT(DISTINCT k) over a GROUPING-KEY column: the MV carries
        // every distinct key combination as a row, so the distinct
        // count re-aggregates exactly over the key column (duplicated
        // (g, k) rows from a union-compensated target dedup away).
        // DISTINCT over a dim column is multiplicity-insensitive too.
        case al @ Alias(ae: AggregateExpression, nm)
            if ae.isDistinct && ae.filter.isEmpty =>
          (ae.aggregateFunction match {
            case Count(Seq(a: AttributeReference)) if dimOut.contains(a) =>
              Some(Count(a).toAggregateExpression(isDistinct = true))
            case Count(Seq(a: AttributeReference)) if mv.keys.contains(a.name) =>
              Some(Count(mv.targetOut(a.name)).toAggregateExpression(isDistinct = true))
            case _ => None
          }).map(e => Alias(e, nm)(exprId = al.exprId))
        case _ => None
      }
      if (newAggExprs.exists(_.isEmpty)) return None

      Some((newGroupings.map(_.get), newAggExprs.map(_.get)))
    }
  }
}
