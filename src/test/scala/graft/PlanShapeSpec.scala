package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import graft.exact.{DedupConfig, ExactDedup}

/** Plan-shape regression tests: the 100 TB claims the scaladocs make are
  * enforced here against the ACTUAL physical plans, so a refactor that
  * silently breaks column pruning, filter pushdown, or broadcast hygiene
  * fails CI instead of surviving until a cluster bill arrives.
  *
  * - stage 1 of the exact cascade must read ONLY the size column from
  *   parquet ("files of unique size never get content read" — the Spark
  *   analogue of /root/reference/src/sizetree.c:173-190's prune);
  * - the scan filters (min-size, repo roots) must reach the source as
  *   pushed filters / partition-prunable predicates;
  * - `content` must never appear in any Exchange (shuffle) of the cascade.
  */
class PlanShapeSpec extends SparkSpec {

  private def executedPlan(df: DataFrame): SparkPlan = {
    df.collect() // force execution so AQE finalizes
    df.queryExecution.executedPlan
  }

  /** Children traversal that pierces the wrappers a real executed plan
    * hides behind: finalized AQE plans, materialized query stages and
    * reused exchanges. A reused exchange's subtree counts at every reuse:
    * reuse hides a plan that copies one subtree per union branch (a
    * left-semi pushed through the corpus Union) without removing it. */
  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Seq(r.child)
    case o => o.children ++ o.subqueries
  }

  /** Every physical plan Spark executes while `body` runs: the final
    * action's and those of the eager checkpoints that materialize a
    * composite's intermediates. A composite's final plan only reads its
    * checkpoint leaves; the scans and exchanges that built them live in the
    * earlier executions. */
  private def executedPlans(body: => Unit): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.TestBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try { body; org.apache.spark.TestBus.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    plans.toArray(Array.empty[SparkPlan]).toSeq
  }

  /** The ShuffleExchanges of every plan executed while `df` is built and
    * collected; asserts none carries content/text. */
  private def contentFreeExchanges(df: => DataFrame, what: String): Seq[ShuffleExchangeExec] = {
    val exs = executedPlans(df.collect()).flatMap(collectPlan(_) {
      case e: ShuffleExchangeExec => e
    })
    exs.foreach { e =>
      val shuffled = e.child.output.map(_.name).toSet
      assert(!shuffled.contains("content") && !shuffled.contains("text"),
        s"$what: content crosses a shuffle: ${shuffled.mkString(",")}")
    }
    exs
  }

  private def collectPlan[T](p: SparkPlan)(pf: PartialFunction[SparkPlan, T]): Seq[T] =
    pf.lift(p).toSeq ++ kids(p).flatMap(collectPlan(_)(pf))

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] =
    collectPlan(p) { case s: FileSourceScanExec => s }

  test("stage-1 size prune reads ONLY the size/id columns, never content") {
    // candidateSizes aggregates on size alone — parquet column pruning must
    // keep content (the 99.9%-of-bytes column) out of the scan entirely.
    // Other suites may have cached a FULL-WIDTH corpus/documents frame;
    // CacheManager would substitute it here and mask the parquet pruning
    // this test exists to check — measure the uncached plan.
    spark.catalog.clearCache()
    val df = ExactDedup.candidateSizes(Tables.corpus(spark, sf), DedupConfig())
    val scanned = scans(executedPlan(df))
    assert(scanned.nonEmpty)
    scanned.foreach { s =>
      val cols = s.schema.fieldNames.toSet
      assert(!cols.contains("text"),
        s"stage-1 scan reads the content column: ${s.schema.catalogString}")
      // the corpus derives size from length(text) only where content is
      // genuinely needed; the aggregate itself must not drag text along
    }
    // the whole plan's scans read a narrow projection (documents carries
    // text ~ the full byte budget; n_chars/doc_id suffice for stage 1)
    val readCols = scanned.flatMap(_.schema.fieldNames).toSet
    assert(readCols.subsetOf(Set("doc_id", "n_chars", "lang", "source")),
      s"stage-1 read more than the narrow columns: $readCols")
  }

  test("min-size filter reaches the parquet source as a pushed/early filter") {
    // a minSize above every fixture row: with pushdown the scan yields ~0
    // rows and the plan prints the predicate at the source
    val df = ExactDedup.scanFilter(Tables.documents(spark, sf)
      .select(col("doc_id").as("file_id"), lit("r").as("repo"),
        lit("p").as("path"), col("text").as("content"),
        col("n_chars").as("size")), DedupConfig(minSize = 3L))
    val plan = executedPlan(df)
    val s = scans(plan)
    assert(s.nonEmpty)
    val pushed = s.map(_.metadata.getOrElse("PushedFilters", "")).mkString
    assert(pushed.contains("n_chars") || pushed.contains("size") ||
      pushed.contains("GreaterThanOrEqual"),
      s"size predicate not pushed to the source: $pushed")
  }

  test("content never enters an Exchange in the exact cascade") {
    spark.catalog.clearCache() // measure this pipeline's own plan, not
                               // another suite's cached substitutions
    val exs = contentFreeExchanges(
      ExactDedup.duplicates(Tables.corpus(spark, sf), DedupConfig()), "duplicates")
    assert(exs.nonEmpty, "cascade is expected to shuffle on its keys")
  }

  test("validate never shuffles content (second-digest divergence check)") {
    // countDistinct over a map-side sha512, NOT the raw content: a
    // million-member vendored set must never move its bytes through the
    // partial-distinct Exchange to answer a yes/no question
    spark.catalog.clearCache()
    contentFreeExchanges(
      ExactDedup.validate(Tables.corpus(spark, sf), DedupConfig()), "validate")
  }

  test("ls / hardlink listings keep content out of every Exchange") {
    // conditional-hash staging: the digest is computed map-side behind the
    // size-count guard; only (size, hash, identity) columns shuffle into
    // the window/dedup stages
    spark.catalog.clearCache()
    contentFreeExchanges(
      ExactDedup.fileStatusesAll(Tables.corpus(spark, sf), DedupConfig()),
      "fileStatusesAll")
    contentFreeExchanges(
      ExactDedup.hardlinkUnique(Tables.corpus(spark, sf), DedupConfig()),
      "hardlinkUnique")
  }

  test("rep selection stays all-broadcast: no sort-merge join, no content shuffle") {
    // the round-4 A/B lesson made CI-enforceable: an earlier semi/anti/union
    // routing formulation inherited a full-scan size estimate, planned the
    // rep semi-join as a content-bearing SortMergeJoin, and regressed every
    // reps consumer 3-15x. The shipped conditional-hash staging keeps both
    // join right sides aggregates (→ broadcast); this pins that shape.
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    spark.catalog.clearCache()
    val df = near.NearDup.representatives(Tables.corpus(spark, sf))
    df.collect()
    val plan = df.queryExecution.executedPlan
    val smjs = collectPlan(plan) { case j: SortMergeJoinExec => j }
    assert(smjs.isEmpty,
      s"rep selection planned ${smjs.size} sort-merge join(s); expected all-broadcast")
    val bhjs = collectPlan(plan) { case j: BroadcastHashJoinExec => j }
    assert(bhjs.nonEmpty, "rep selection should join via broadcast")
    contentFreeExchanges(df, "representatives")
  }

  test("rep selection builds its id set ONCE (no semi-through-union blowup)") {
    // Catalyst distributes a LEFT-SEMI join over a Union child
    // (PushdownLeftSemiAntiJoin), duplicating the whole build side into
    // every corpus branch: representatives planned 11 corpus instances /
    // 55 parquet scans (a measured 4x every reps consumer inherited) until
    // the rep-id join became INNER (round 5). The minimal plan touches the
    // corpus 3 times x 5 union branches = 15 scans; a couple of slack
    // scans tolerated for future benign shape drift, the 55-scan blowup is
    // what must never return.
    spark.catalog.clearCache()
    val df = near.NearDup.representatives(Tables.corpus(spark, sf))
    df.collect()
    val n = scans(df.queryExecution.executedPlan).size
    assert(n <= 20, s"rep selection planned $n parquet scans; " +
      "expected <= 20 (3 corpus passes x 5 branches) — a semi-join is " +
      "being pushed through the corpus Union again")
  }

  /** Parquet scans executed while `df` is built and collected, over every
    * plan that runs (see [[executedPlans]]). A checkpoint leaf's build runs
    * once, however many branches read it. */
  private def executedScans(df: => DataFrame): Int =
    executedPlans(df.collect()).map(scans(_).size).sum

  test("exact cascade builds its size set ONCE (same union-pushdown guard)") {
    spark.catalog.clearCache()
    val n = executedScans(ExactDedup.duplicates(Tables.corpus(spark, sf), DedupConfig()))
    info(s"$n executed parquet scans")
    assert(n <= 15, s"exact cascade executes $n parquet scans (10 at round " +
      "5); the stage-1 size filter is being pushed through the corpus Union")
  }

  test("uniques probes the dup-id set ONCE (no anti-through-union blowup)") {
    // round-6 find: PushdownLeftSemiAntiJoin distributes LEFT-ANTI over the
    // 5-branch corpus Union exactly like LEFT-SEMI — uniques planned 59
    // executions (4x the duplicates pipeline it wraps) until the anti
    // became LEFT OUTER + IS NULL, which is not distributed. This pins the
    // executed scan count the same way the cascade test above does.
    spark.catalog.clearCache()
    val n = executedScans(ExactDedup.uniques(Tables.corpus(spark, sf), DedupConfig()))
    info(s"$n executed parquet scans")
    assert(n <= 20, s"uniques executes $n parquet scans; expected <= 20 " +
      "(the cascade's ~10 + one probe pass) — the dup-id anti/semi join is " +
      "being pushed through the corpus Union again")
  }

  /** Runs `body` and returns the largest physical-plan description Spark
    * rendered for any execution it started — the string AQE rebuilds on
    * every stage update (SparkListenerSQLAdaptiveExecutionUpdate). */
  private def largestPlanText(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
      SparkListenerSQLExecutionStart}
    val largest = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
        case e: SparkListenerSQLExecutionStart =>
          largest.accumulateAndGet(e.physicalPlanDescription.length, math.max)
        case e: SparkListenerSQLAdaptiveExecutionUpdate =>
          largest.accumulateAndGet(e.physicalPlanDescription.length, math.max)
        case _ => ()
      }
    }
    org.apache.spark.TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { body; org.apache.spark.TestBus.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    largest.get()
  }

  test("near tier: no materialized frame nests another (plan text <= 256 KB)") {
    // each near-tier intermediate is a checkpoint leaf; when they were
    // lazily persisted frames nesting one another, every AQE update
    // re-rendered all the nested cached plans: 90 MB (allFileClusters) and
    // 42 MB (verifiedPairs) for a single plan string on this fixture
    spark.catalog.clearCache()
    val corpus = Tables.corpus(spark, sf)
    val bound = 256 * 1024
    val clusters = largestPlanText(near.NearDup.allFileClusters(corpus).collect())
    assert(clusters <= bound, s"allFileClusters rendered a $clusters-char plan")
    val pairs = largestPlanText(near.NearDup.verifiedPairs(corpus).collect())
    info(s"largest plan text: allFileClusters $clusters chars, verifiedPairs $pairs chars")
    assert(pairs <= bound, s"verifiedPairs rendered a $pairs-char plan")
  }

  test("verify joins still broadcast from checkpoint leaves (stats survive)") {
    // each leaf's size is capped at its stored size; with only the source
    // plan's estimate (GiBs after the rep-selection joins) both shingle
    // joins planned as sort-merge joins, shuffling pairs and shingles
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val cfg = near.NearConfig()
    val scope = new util.PersistScope
    try {
      val reps = scope.persist(near.NearDup.representatives(Tables.corpus(spark, sf), cfg))
      val sigs = scope.persist(near.NearDup.signalFrame(reps, cfg))
      val plausible = scope.persist(near.NearDup.allCandidates(sigs, cfg, scope).distinct())
      val sh = scope.persist(near.NearDup.candidateShingles(reps, plausible, cfg))
      val verified = near.NearDup.verifyCandidates(plausible, sh, cfg)
      // the static plan, before AQE could convert joins from runtime sizes
      val static = verified.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      }
      val bhjs = static.collect { case j: BroadcastHashJoinExec => j }
      assert(bhjs.size == 2, s"expected both shingle joins to broadcast:\n$static")
      assert(verified.count() > 0)
    } finally scope.release()
  }

  test("candidate pairs: one exchange below the pair distinct, no join, at most 6 jobs") {
    // the in-bucket kernel groups the bucket rows once and pairs inside each
    // bucket; the salted self-join it replaced planned a size aggregate, a
    // sort-merge join and a replicated hot side, and ran 14 jobs
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, SortMergeJoinExec}
    val cfg = near.NearConfig()
    val scope = new util.PersistScope
    try {
      val reps = scope.persist(near.NearDup.representatives(Tables.corpus(spark, sf), cfg))
      val sigs = scope.persist(near.NearDup.signalFrame(reps, cfg))
      val plan = executedPlan(near.NearDup.allCandidates(sigs, cfg, scope).distinct())
      assert(collectPlan(plan) { case j: SortMergeJoinExec => j }.isEmpty, s"sort-merge join:\n$plan")
      val exs = collectPlan(plan) { case e: ShuffleExchangeExec => e }
      assert(exs.nonEmpty && exs.head.child.output.map(_.name) == Seq("a", "b"),
        s"the top exchange is not the pair distinct's:\n$plan")
      val below = exs.head.child
      assert(collectPlan(below) { case e: ShuffleExchangeExec => e }.size == 1,
        s"expected one exchange below the pair distinct:\n$plan")
      assert(collectPlan(below) { case j: BaseJoinExec => j }.isEmpty,
        s"a join below the pair distinct:\n$plan")
      // one materialization of the pair leaf, as verifiedPairsFromSigs runs it
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      }
      org.apache.spark.TestBus.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      try {
        scope.persist(near.NearDup.allCandidates(sigs, cfg, scope).distinct())
        org.apache.spark.TestBus.drain(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(listener)
      info(s"allCandidates(...).distinct() materialized in ${jobs.get} jobs")
      assert(jobs.get <= 6, s"allCandidates(...).distinct() ran ${jobs.get} jobs")
    } finally scope.release()
  }

  test("repo-root restriction (F5) prunes at the source, not post-scan") {
    // one-file-system roots compile to an isin predicate; on a partitioned
    // layout (repo = Iceberg partition col) this is partition pruning. On
    // the flat fixture it must still reach the scan as a data filter.
    val df = ExactDedup.scanFilter(Tables.corpus(spark, sf),
      DedupConfig(repos = Seq("mirror")))
    // semantic check: only mirror rows survive
    assert(df.select("repo").distinct().collect().map(_.getString(0)).toSeq
      == Seq("mirror"))
  }
}
