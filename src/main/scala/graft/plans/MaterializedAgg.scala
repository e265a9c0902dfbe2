package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained aggregate views over a [[SnapshotTable]]
  * (Delta/Databricks "materialized view with incremental refresh",
  * Materialize/Flink-style maintained aggregation — reference analog:
  * the nightly full-recompute aggregation jobs, `orders_etl.py`, which
  * rescan the table each run).
  *
  * The view IS a [[SnapshotTable]] keyed by an injective encoding of
  * the group columns, refreshed from the source's change feed
  * ([[SnapshotTable.changesDelta]]): cost per refresh is O(changed
  * rows) + O(changed groups), NEVER O(source table) — the property
  * that makes a daily-revenue rollup over a 100 TB fact table
  * maintainable. Exactly-once without a transaction coordinator: the
  * source-version watermark is STAGED onto the refresh's own manifest
  * commit ([[SnapshotTable.stageProperties]]), so the merged rows and
  * the watermark land atomically — a crashed refresh re-applies the
  * same span onto the same old state, it can never double-apply.
  *
  * Construct the view handle CLUSTERED by [[KeyCol]]
  * (`statsCols = clusterBy = Seq(MaterializedAgg.KeyCol)`): the
  * refresh merge is then stats-scoped to the files holding touched
  * groups, so a refresh rewrites O(touched groups) of the view, not
  * the whole view — the difference between a maintained rollup and a
  * nightly rebuild once the view itself is large.
  *
  * Two refresh strategies, chosen by what the measures allow:
  *  - [[refreshAdditive]] — sums and counts (avg = sum/count at read).
  *    Folds signed deltas (`after` adds, `before` subtracts) straight
  *    from the feed; no source scan at all. Emptied groups (net count
  *    zero) are deleted from the view in the same commit
  *    ([[SnapshotTable.upsertDelete]]).
  *  - [[refreshRecompute]] — arbitrary aggregates (min/max/distinct…)
  *    that cannot fold under deletes. The feed contributes only the
  *    DIRTY group keys; those groups recompute from the source scoped
  *    by a broadcast semi-join (stats/cluster pruning applies when the
  *    source is clustered by the group key), and vanished groups are
  *    deleted. O(changed groups' data), still never O(table).
  */
object MaterializedAgg {

  /** View table property holding the last source version folded in. */
  val SourceVersionProp = "graft.mv.sourceVersion"

  // ---- size-aware broadcast fallback --------------------------------

  /** Decision log of [[hintSmall]] — `(site, size, broadcast?)` where
    * `size` is changed-group rows (merge/recompute sites) or manifest
    * bytes (dim sites). Observability for specs; bounded. */
  private[graft] val broadcastDecisions =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Boolean)]

  private def logDecision(site: String, size: Long, ok: Boolean): Unit = {
    broadcastDecisions.add((site, size, ok))
    while (broadcastDecisions.size > 64) broadcastDecisions.poll()
  }

  private def broadcastThresholdBytes(spark: SparkSession): Long = {
    // Spark's own byte-string parser (the one the conf itself is
    // parsed with), not a hand-rolled copy that would drift on
    // suffixes like "1t"
    val thr =
      try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760"))
      catch { case scala.util.control.NonFatal(_) => 10L << 20 }
    // thr <= 0 is the session's explicit broadcast OPT-OUT (-1 disables
    // auto-broadcast) — honor it rather than substituting the default,
    // or MV refresh joins would re-inject the hints the user turned off
    thr
  }

  /** Max changed-group ROWS the refresh joins will broadcast — above
    * it the hints drop and the joins shuffle, which is what makes an
    * initial fold or a long catch-up span (millions of dirty groups)
    * safe at any size. Configurable via session conf
    * `graft.mv.broadcastMaxGroups`; the default derives from the
    * session broadcast threshold at ~64 bytes per group row (encoded
    * key + a few numeric measures). */
  private def maxBroadcastGroups(spark: SparkSession): Long =
    spark.conf.getOption("graft.mv.broadcastMaxGroups")
      .flatMap(_.toLongOption)
      .getOrElse {
        val thr = broadcastThresholdBytes(spark)
        // disabled session threshold => never hint (0 groups qualify)
        if (thr <= 0) 0L else math.max(1L, thr / 64)
      }

  /** Broadcast `df` (known to hold `rows` rows) only when it is small
    * enough to hold in every executor; otherwise return it unhinted
    * and let the join shuffle. */
  private def hintSmall(site: String, df: DataFrame, rows: Long): DataFrame = {
    val ok = rows <= maxBroadcastGroups(df.sparkSession)
    logDecision(site, rows, ok)
    if (ok) broadcast(df) else df
  }

  /** Synthesized single-column primary key for the view: injective
    * over the group tuple, null-distinguishing (`\u0000` marks NULL —
    * url_encode output never starts with an unescaped control byte),
    * never itself null. */
  val KeyCol = "__mv_key"

  /** Maintained row count per group; doubles as the liveness flag
    * (net zero => the group left the view). */
  val CountCol = "__mv_count"

  private val DropCol = "__mv_drop"

  private def keyExpr(keys: Seq[String]): Column =
    concat_ws("\u0001", keys.map(k =>
      when(col(k).isNull, lit("\u0000"))
        .otherwise(concat(lit("="), url_encode(col(k).cast("string"))))): _*)

  /** Stamped on every refresh commit; bumped if [[keyExpr]]'s
    * encoding ever changes. A view persisted under a DIFFERENT key
    * format must be rebuilt, not folded onto — the merge would miss
    * every old-format group and double-list them silently. */
  val KeyFormatProp = "graft.mv.keyFormat"
  private val KeyFormat = "1"

  /** The source version the view has absorbed — the shared watermark
    * contract of the batch refresh AND the streaming maintainer: a
    * missing view (or an EMPTY one, the SQL
    * `CREATE TABLE … TBLPROPERTIES(…)` declared-but-never-refreshed
    * case) folds from 0; a view WITH rows but no watermark is an
    * arbitrary table — refuse to corrupt it. Also refuses a non-empty
    * view whose [[KeyFormatProp]] predates the current key encoding. */
  private[graft] def absorbedVersion(view: SnapshotTable): Long =
    if (!view.exists) 0L
    else view.properties.get(SourceVersionProp).flatMap(_.toLongOption)
      .map { w =>
        if (!view.properties.get(KeyFormatProp).contains(KeyFormat) &&
            view.candidateFiles().nonEmpty)
          throw new IllegalStateException(
            s"view at ${view.path} was persisted under group-key " +
              s"format ${view.properties.getOrElse(KeyFormatProp, "0")} " +
              s"(current $KeyFormat) — a fold would miss every " +
              "old-format group; drop and rebuild the view")
        w
      }
      .getOrElse {
        if (view.candidateFiles().isEmpty) 0L
        else throw new IllegalStateException(
          s"view carries no $SourceVersionProp — not a maintained " +
            "view (create it through refreshAdditive/refreshRecompute)")
      }

  /** The (fromV, toV] span still owed to the view, or None when
    * already current. Refuses a watermark AHEAD of the source head —
    * that means the source was restored/recreated under the view, and
    * folding would corrupt silently; the caller must rebuild. */
  private def span(src: SnapshotTable, view: SnapshotTable)
      : Option[(Long, Long)] = {
    val toV = src.currentVersion.getOrElse(
      throw new IllegalStateException("source has no committed snapshot"))
    val fromV = absorbedVersion(view)
    if (fromV > toV) throw new IllegalStateException(
      s"view watermark v$fromV is ahead of source head v$toV — the " +
        "source was restored or recreated; drop and rebuild the view")
    if (fromV == toV) None else Some((fromV, toV))
  }

  /** Incremental refresh for ADDITIVE measures: each `(name, expr)`
    * maintains `sum(expr)` per group (plus [[CountCol]]); `avg` is
    * sum/count at read time. Creates the view on first call (full
    * fold of the feed from v0 — the same code path, not a special
    * case). Sum expressions should be exact types (integral/decimal):
    * a float sum folds associatively but not bit-reproducibly. */
  def refreshAdditive(src: SnapshotTable, view: SnapshotTable,
                      keys: Seq[String],
                      sums: Seq[(String, Column)]): Unit = {
    require(keys.nonEmpty, "refreshAdditive needs at least one group key")
    val (fromV, toV) = span(src, view).getOrElse(return)
    commitMerged(view, keys, sums.map(_._1),
      foldAdditive(src.changesDelta(fromV, toV), keys, sums), toV,
      additive = true)
  }

  /** Fold a frame of before/after IMAGES into per-group signed deltas
    * keyed by [[KeyCol]] — the shared core of the batch refresh and
    * the streaming maintainer ([[graft.streaming.StreamingView]]).
    * Uncanceled rewrite pairs (the streaming feed's raw algebra) — a
    * row delivered as one `before` plus one `after` — cancel here by
    * construction. */
  private[graft] def foldAdditive(images: DataFrame, keys: Seq[String],
                                  sums: Seq[(String, Column)]): DataFrame = {
    val img = col(SnapshotTable.ImageCol)
    val sign = when(img === "before", lit(-1L)).otherwise(lit(1L))
    // NULL measure values fold as 0 on both images — the explicit form
    // of SQL sum's null-skipping, symmetric between add and subtract
    val aggCols =
      sums.map { case (n, e) =>
        sum(sign * when(e.isNull, lit(0L)).otherwise(e)).as(n)
      } :+ sum(sign).as(CountCol)
    images
      .groupBy(keys.map(col): _*)
      .agg(aggCols.head, aggCols.tail: _*)
      // rewrite-only churn (compaction, carried files) folds to ZERO
      // net change — skip those groups entirely, so a pure compact of
      // the source touches nothing in the view
      .filter(sums.map(s => col(s._1) =!= 0L)
        .foldLeft(col(CountCol) =!= 0L)(_ || _))
      .withColumn(KeyCol, keyExpr(keys))
  }

  // ---- star-join views ----------------------------------------------

  /** One dimension of a star-join view: `factKey` (a column of the
    * accumulated join frame — the fact table, or an EARLIER dim for
    * snowflake chains) equi-joins `dimKey` on `table`. Fact and dim
    * column names must be disjoint (TPC-H style); the dim-side key
    * column is dropped after the join (redundant by the equi-join). */
  final case class DimSpec(table: SnapshotTable, factKey: String,
                           dimKey: String)

  /** Dim-pin property stamped per dimension on every join-view
    * commit: the dim version the view's rows reflect. */
  private[graft] def dimVersionProp(i: Int) = s"graft.mv.dim.$i.version"

  /** Incremental refresh of a STAR-JOIN aggregate view — the canonical
    * warehouse rollup (fact ⋈ dims → group-by). Group keys and
    * measures may reference dim columns (that is the point: daily
    * revenue BY REGION from a lineitem feed). Joins are INNER: a fact
    * row without its dim row contributes nothing, on both images —
    * standard star-schema RI semantics, symmetric between add and
    * subtract, so orphans can never unbalance a group.
    *
    * Maintenance is the exact multilinear delta expansion over the
    * table chain `[fact, d1 … dn]` (the incremental-view-maintenance
    * identity J(new⃗) − J(old⃗) = Σ_k J(new₁…new_{k−1}, Δ_k,
    * old_{k+1}…old_n), as in differential dataflow / DBSP):
    *
    *  - the FACT term joins the fact change feed (signed before/after
    *    images) against every dim at its PINNED old version —
    *    O(changed fact rows × dim lookup), never O(fact table);
    *  - each CHANGED-DIM term joins the full fact at its NEW version
    *    (pruned by a semi-join on the delta's keys when the dim joins
    *    a fact column directly) against dims-before-it at new
    *    versions, the dim's own signed delta, and dims-after-it at
    *    old versions — O(fact rows referencing changed dim keys),
    *    the irreducible cost of a dim change, paid only when a dim
    *    actually changed.
    *
    * All terms union into ONE signed fold and ONE view commit, which
    * stamps the new fact watermark and dim pins atomically — so dim
    * attribute changes (an SCD overwrite moving groups), dim-key
    * deletes (facts orphaned out), and fact churn all fold in the
    * same refresh. Old dim versions must still be readable
    * (time-travel): a vacuumed-away pin fails loudly — drop and
    * rebuild the view. Dim tables broadcast when their manifest bytes
    * fit the session broadcast threshold; a big dim shuffles
    * instead. */
  def refreshAdditiveJoin(fact: SnapshotTable, dims: Seq[DimSpec],
                          view: SnapshotTable, keys: Seq[String],
                          sums: Seq[(String, Column)]): Unit = {
    require(keys.nonEmpty, "refreshAdditiveJoin needs at least one group key")
    require(dims.nonEmpty, "refreshAdditiveJoin needs at least one " +
      "dimension — use refreshAdditive for single-table views")
    val factTo = fact.currentVersion.getOrElse(
      throw new IllegalStateException(
        s"fact table ${fact.path} has no committed snapshot"))
    val factFrom = absorbedVersion(view)
    if (factFrom > factTo) throw new IllegalStateException(
      s"view watermark v$factFrom is ahead of fact head v$factTo — the " +
        "fact was restored or recreated; drop and rebuild the view")
    val (dimFrom, dimTo) = dimSpanOf(view, dims)
    if (factFrom == factTo && dimFrom == dimTo) return
    val factImages =
      if (factFrom < factTo) Some(fact.changesDelta(factFrom, factTo))
      else None
    foldJoinSpan(fact, dims, view, keys, sums, factImages, factTo,
      dimFrom, dimTo)
  }

  /** The (pinned old, current head) version pair per dimension still
    * owed to a join view, with the watermark-safety guards. The pins
    * come from the view's PROPERTIES, never from its row count: a
    * view whose groups all emptied out still owes every dim delta
    * since its stamped pins (a row-presence proxy would silently
    * reset them and drop owed spans forever). Only a view with no
    * pins at all is treated as creation — pins initialize to the
    * current heads, so just the fact term runs, against dims-as-now —
    * and then only when it also has no rows (a view WITH rows but no
    * pins is not a join view). */
  private[graft] def dimSpanOf(view: SnapshotTable, dims: Seq[DimSpec])
      : (Seq[Long], Seq[Long]) = {
    val dimTo = dims.map(d => d.table.currentVersion.getOrElse(
      throw new IllegalStateException(
        s"dimension ${d.table.path} has no committed snapshot")))
    val props =
      if (view.exists) view.properties else Map.empty[String, String]
    val pinned = dims.indices.map(i =>
      props.get(dimVersionProp(i)).flatMap(_.toLongOption))
    val dimFrom: Seq[Long] =
      if (pinned.forall(_.isDefined)) pinned.map(_.get)
      else if (pinned.exists(_.isDefined))
        throw new IllegalStateException(
          s"view at ${view.path} pins only ${pinned.count(_.isDefined)} " +
            s"of ${dims.size} dimensions — the dim list no longer " +
            "matches the view's definition; drop and rebuild the view")
      else if (view.exists && view.candidateFiles().nonEmpty)
        throw new IllegalStateException(
          s"view at ${view.path} logs no ${dimVersionProp(0)} — not " +
            "an additive JOIN view (create it through " +
            "refreshAdditiveJoin)")
      else dimTo
    dims.indices.foreach { i =>
      if (dimFrom(i) > dimTo(i)) throw new IllegalStateException(
        s"view pin v${dimFrom(i)} is ahead of dimension " +
          s"${dims(i).table.path} head v${dimTo(i)} — the dimension " +
          "was restored or recreated; drop and rebuild the view")
    }
    (dimFrom, dimTo)
  }

  /** Shared span-fold core of [[refreshAdditiveJoin]] and the
    * streaming maintainer ([[graft.streaming.StreamingView]]): build
    * the expansion terms for the given fact images (already
    * watermark-filtered, covering up to `factTo`) and dim spans, fold
    * them, commit once. `factImages` None = dim-only refresh. */
  private[graft] def foldJoinSpan(fact: SnapshotTable, dims: Seq[DimSpec],
                                  view: SnapshotTable, keys: Seq[String],
                                  sums: Seq[(String, Column)],
                                  factImages: Option[DataFrame],
                                  factTo: Long, dimFrom: Seq[Long],
                                  dimTo: Seq[Long]): Unit = {
    val images = expansionImages(fact, dims, view, factImages, factTo,
      dimFrom, dimTo).getOrElse(return)
    commitMerged(view, keys, sums.map(_._1),
      foldAdditive(images, keys, sums), factTo, additive = true,
      extraProps = dims.indices
        .map(i => dimVersionProp(i) -> dimTo(i).toString).toMap)
  }

  /** Join `left` through the whole dim chain with the delta at
    * overall position `deltaPos` (0 = the fact itself): dims BEFORE
    * the delta read at their new version, dims AFTER it at their
    * pinned old version, the delta table contributes `delta` (signed
    * images) instead of a full read. `deltaPos = dims.size + 1` with
    * `delta = null` therefore reads the WHOLE chain at its new
    * versions — the current join frame. */
  private def chainJoin(view: SnapshotTable, dims: Seq[DimSpec],
                        dimFrom: Seq[Long], dimTo: Seq[Long],
                        left: DataFrame, deltaPos: Int,
                        delta: DataFrame): DataFrame =
    dims.zipWithIndex.foldLeft(left) { case (acc, (d, j)) =>
      val pos = j + 1
      val dim =
        if (pos == deltaPos) delta
        else {
          // pinned reads on both sides of the delta position:
          // a commit landing mid-plan must not shift the versions
          // the expansion is exact against
          val v = if (pos < deltaPos) dimTo(j) else dimFrom(j)
          val full = d.table.readVersion(v)
          // size the broadcast decision from the manifest of the
          // SAME version the join reads — the head manifest can be
          // arbitrarily smaller than a pinned old snapshot (a big
          // delete since the pin), and head-based sizing would then
          // broadcast the large old read
          val lens = d.table.retainedEntriesAt(v, "join-view dim")
            .map(_.len)
          val bytes = if (lens.contains(-1L)) Long.MaxValue else lens.sum
          val small = bytes <= broadcastThresholdBytes(view.session)
          logDecision(s"dim.${d.factKey}", bytes, small)
          if (small) broadcast(full) else full
        }
      // rename the dim-side key to a per-position unique name and
      // drop it BY NAME after the equi-join: a delta term re-uses
      // the delta frame on both sides of the fact prune, and a
      // Column-based drop silently no-ops when self-join
      // deduplication rewrites the right side's attribute ids
      val keyAlias = s"__mv_dimkey_$j"
      val dimR = dim.withColumnRenamed(d.dimKey, keyAlias)
      acc.join(dimR, acc(d.factKey) === col(keyAlias), "inner")
        .drop(keyAlias)
    }

  /** The exact multilinear delta expansion of the join frame over the
    * span: one term per changed table, all unioned — the signed
    * multiset delta ΔJ of `fact ⋈ dims`. None when neither the fact
    * nor any dim changed. Shared by the additive fold (which sums the
    * signed rows) and the recompute path (which only reads the DIRTY
    * group keys off it: a group with no row in ΔJ has a literally
    * unchanged joined multiset, so ANY aggregate over it is
    * unchanged). */
  private def expansionImages(fact: SnapshotTable, dims: Seq[DimSpec],
                              view: SnapshotTable,
                              factImages: Option[DataFrame],
                              factTo: Long, dimFrom: Seq[Long],
                              dimTo: Seq[Long]): Option[DataFrame] = {
    val changedDims = dims.indices.filter(i => dimFrom(i) < dimTo(i))
    val factCols = fact.readVersion(factTo).columns.toSet
    val terms = Seq.newBuilder[DataFrame]
    factImages.foreach(images =>
      terms += chainJoin(view, dims, dimFrom, dimTo, images, 0, null))
    changedDims.foreach { k =>
      val d = dims(k)
      val delta = d.table.changesDelta(dimFrom(k), dimTo(k))
      // prune the O(fact) scan to rows that CAN join a changed key —
      // only expressible up front when the dim joins a fact column
      // directly (a snowflake-chained dim restricts via its inner
      // join instead); AQE sizes the semi-join build side at runtime
      val base =
        if (factCols(d.factKey))
          fact.readVersion(factTo).join(
            delta.select(col(d.dimKey).as("__mv_changed_key")).distinct(),
            col(d.factKey) === col("__mv_changed_key"), "left_semi")
        else fact.readVersion(factTo)
      terms += chainJoin(view, dims, dimFrom, dimTo, base, k + 1, delta)
    }
    val ts = terms.result()
    if (ts.isEmpty) None else Some(ts.reduce(_ unionByName _))
  }

  /** Incremental refresh of a star-join view with ARBITRARY aggregates
    * (min/max/count_distinct/… over fact AND dim columns — e.g. max
    * order price by nation): the non-additive composition of
    * [[refreshAdditiveJoin]] and [[refreshRecompute]]. The expansion
    * terms identify the DIRTY group keys — groups touched by fact
    * deltas at pinned old dims, plus old AND new groups of facts
    * referencing changed dim keys (an SCD move dirties both sides) —
    * and exactly those groups recompute from the CURRENT join frame
    * (fact and every dim at their new versions), scoped by the usual
    * null-safe semi-join. When the group keys are dim attributes,
    * Catalyst's PushDownLeftSemiAntiJoin rewrites the scope onto the
    * dim side of the inner join and dynamic partition/stats pruning
    * narrows the fact scan to rows joining dirty dim keys — the fact
    * table is never aggregated in full after creation. Watermark and
    * dim pins land atomically with the merged groups, exactly as in
    * the additive path. */
  def refreshRecomputeJoin(fact: SnapshotTable, dims: Seq[DimSpec],
                           view: SnapshotTable, keys: Seq[String],
                           aggs: Seq[(String, Column)]): Unit = {
    require(keys.nonEmpty, "refreshRecomputeJoin needs at least one group key")
    require(dims.nonEmpty, "refreshRecomputeJoin needs at least one " +
      "dimension — use refreshRecompute for single-table views")
    val factTo = fact.currentVersion.getOrElse(
      throw new IllegalStateException(
        s"fact table ${fact.path} has no committed snapshot"))
    val factFrom = absorbedVersion(view)
    if (factFrom > factTo) throw new IllegalStateException(
      s"view watermark v$factFrom is ahead of fact head v$factTo — the " +
        "fact was restored or recreated; drop and rebuild the view")
    val (dimFrom, dimTo) = dimSpanOf(view, dims)
    if (factFrom == factTo && dimFrom == dimTo) return
    // INITIAL materialization fast path: a fresh view owes EVERY
    // group, and the expansion + netting would only rediscover "all
    // keys dirty" after joining the full fact a FIRST time — then the
    // recompute joins it again. Aggregate the current chain once.
    if (factFrom == 0L && dimFrom == dimTo &&
        (!view.exists || view.candidateFiles().isEmpty)) {
      val current = chainJoin(view, dims, dimFrom, dimTo,
        fact.readVersion(factTo), dims.size + 1, null)
      materializeInitial(view, current, keys, aggs, factTo,
        dims.indices.map(i => dimVersionProp(i) -> dimTo(i).toString).toMap)
      return
    }
    val factImages =
      if (factFrom < factTo) Some(fact.changesDelta(factFrom, factTo))
      else None
    recomputeJoinSpan(fact, dims, view, keys, aggs, factImages, factTo,
      dimFrom, dimTo)
  }

  /** Full group values of `source` in the view's row shape — ONE
    * assembly authority for the initial materialization and the
    * dirty-group recompute, so CountCol semantics and the key encoding
    * can never diverge between the two paths. */
  private def aggregateGroups(source: DataFrame, keys: Seq[String],
                              aggs: Seq[(String, Column)]): DataFrame = {
    val aggCols = aggs.map { case (n, e) => e.as(n) } :+
      count(lit(1L)).as(CountCol)
    source
      .groupBy(keys.map(col): _*)
      .agg(aggCols.head, aggCols.tail: _*)
      .withColumn(KeyCol, keyExpr(keys))
  }

  /** One full aggregate of `source` committed as the view's FIRST
    * population — the shared initial-materialization path of both
    * recompute modes (no dirty set exists to scope by, no emptied
    * groups to detect). */
  private def materializeInitial(view: SnapshotTable, source: DataFrame,
                                 keys: Seq[String],
                                 aggs: Seq[(String, Column)], toV: Long,
                                 extraProps: Map[String, String] = Map.empty)
      : Unit =
    commitMerged(view, keys, aggs.map(_._1),
      aggregateGroups(source, keys, aggs), toV,
      additive = false, extraProps = extraProps)

  /** Shared span core of [[refreshRecomputeJoin]] and the streaming
    * maintainer — the non-additive sibling of [[foldJoinSpan]]: dirty
    * group keys off the expansion's NET (rewrite pairs cancel, so a
    * fact compaction recomputes nothing), recompute exactly those
    * groups from the chain at its new versions, one commit stamping
    * watermark and dim pins. */
  private[graft] def recomputeJoinSpan(fact: SnapshotTable,
                                       dims: Seq[DimSpec],
                                       view: SnapshotTable,
                                       keys: Seq[String],
                                       aggs: Seq[(String, Column)],
                                       factImages: Option[DataFrame],
                                       factTo: Long, dimFrom: Seq[Long],
                                       dimTo: Seq[Long]): Unit = {
    val dimPins = dims.indices
      .map(i => dimVersionProp(i) -> dimTo(i).toString).toMap
    expansionImages(fact, dims, view, factImages, factTo, dimFrom,
        dimTo) match {
      case None => advanceWatermark(view, factTo, dimPins)
      case Some(images) =>
        val dirty = netDirtyKeys(narrowToMeasured(images, keys, aggs), keys)
        val current = chainJoin(view, dims, dimFrom, dimTo,
          fact.readVersion(factTo), dims.size + 1, null)
        recomputeDirty(view, current, dirty, keys, aggs, factTo, dimPins)
    }
  }

  /** Project `images` down to the columns the view can OBSERVE — the
    * group keys plus every column the measures read (from the ANALYZED
    * references of a zero-row probe aggregate) plus the image tag —
    * before the netting shuffle: if a group's multiset of observed
    * columns is unchanged, every aggregate over it is unchanged, so
    * cancellation over the narrowed rows is exactly as sound as over
    * the full rows and the shuffle carries a fraction of the bytes
    * (a star expansion row is wide; a (key, measure) pair is not).
    * Falls back to the full frame when the probe cannot resolve
    * (ambiguous duplicated names, exotic measures) — narrower is an
    * optimization, never a requirement. */
  private[graft] def narrowToMeasured(images: DataFrame, keys: Seq[String],
                               aggs: Seq[(String, Column)]): DataFrame =
    try {
      // probe a zero-row LocalRelation with the SAME schema, never the
      // real frame: analyzing the expansion tree a second time costs
      // SECONDS on a cold session (multi-join unions), a LocalRelation
      // milliseconds
      val empty = images.sparkSession.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        images.schema)
      val probe = empty.groupBy(keys.map(col): _*)
        .agg(aggs.head._2.as(aggs.head._1),
          aggs.tail.map { case (n, c) => c.as(n) }: _*)
      probe.queryExecution.analyzed.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
          a.references.map(_.name).toSeq.distinct
      } match {
        case Some(cols) =>
          images.select((SnapshotTable.ImageCol +:
            cols.filterNot(_ == SnapshotTable.ImageCol)).map(col): _*)
        case None => images
      }
    } catch { case scala.util.control.NonFatal(_) => images }

  /** DISTINCT group keys of the rows whose signed images do not
    * cancel — the recompute paths' dirty set. A rewrite (compaction,
    * clustering, a carried-file re-delivery) emits one `before` plus
    * one identical `after` per row; grouping by the full data row
    * with a signed count cancels those pairs, so rewrite-only churn
    * dirties NOTHING — without this, a fact compaction would recompute
    * every rewritten group for zero change. MapType anywhere in a
    * column's type tree makes the row ungroupable; such feeds fall
    * back to raw distinct keys (correct, just rewrite-churn-
    * sensitive). */
  private[graft] def netDirtyKeys(images: DataFrame, keys: Seq[String])
      : DataFrame = {
    val names = images.columns
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType,
      StructType}
    def hasMap(dt: DataType): Boolean = dt match {
      case _: MapType => true
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case a: ArrayType => hasMap(a.elementType)
      case _ => false
    }
    val groupable = !images.schema.fields.exists(f =>
      f.name != SnapshotTable.ImageCol && hasMap(f.dataType))
    if (!groupable) return images.select(keys.map(col): _*).distinct()
    // rename POSITIONALLY before grouping: the join-expansion frame
    // can carry duplicate column names (a fact and a dim sharing a
    // non-key column — DimSpec documents disjointness, but the net
    // must not turn a contract slip into an ambiguous-reference
    // AnalysisException when by-position grouping handles it exactly).
    // "__mv_net*" sits in the module's reserved __mv_* namespace, so
    // it cannot collide with a source data column.
    val tagged = images.toDF(names.indices.map(i => s"__mv_net_c$i"): _*)
    val imgIdx = names.indexOf(SnapshotTable.ImageCol)
    val sign = when(col(s"__mv_net_c$imgIdx") === "before", lit(-1L))
      .otherwise(lit(1L))
    // resolve key names with the SESSION's resolver, not exact-case
    // equality: a key declared as N_NAME over a column n_name resolves
    // everywhere else (groupBy, keyExpr) under the default
    // case-insensitive analysis and must resolve here too
    val resolver = images.sparkSession.sessionState.conf.resolver
    val keyIdx = keys.map { k =>
      val hits = names.indices.filter(i => resolver(names(i), k))
      require(hits.size == 1,
        s"group key '$k' resolves to ${hits.size} columns of the change " +
          "frame — group keys must be unambiguous")
      hits.head
    }
    tagged
      .groupBy(names.indices.filter(_ != imgIdx)
        .map(i => col(s"__mv_net_c$i")): _*)
      .agg(sum(sign).as("__mv_net"))
      .filter(col("__mv_net") =!= 0L)
      .select(keyIdx.map(i => col(s"__mv_net_c$i").as(names(i))): _*)
      .distinct()
  }

  /** Incremental refresh for ARBITRARY aggregates: `aggs` are complete
    * aggregate expressions (min/max/count_distinct/…). The change feed
    * supplies only the DIRTY group keys; those groups are recomputed
    * from the CURRENT source, scoped to the dirty keys by a broadcast
    * null-safe semi-join (a source clustered by the group key prunes
    * the scan to the touched files). Groups with no remaining source
    * rows are deleted from the view. */
  def refreshRecompute(src: SnapshotTable, view: SnapshotTable,
                       keys: Seq[String],
                       aggs: Seq[(String, Column)]): Unit = {
    require(keys.nonEmpty, "refreshRecompute needs at least one group key")
    val (fromV, toV) = span(src, view).getOrElse(return)
    // initial materialization: one aggregate pass, no dirty-set scan
    // (the feed from v0 would list every key just to semi-join the
    // source back to itself)
    if (fromV == 0L && (!view.exists || view.candidateFiles().isEmpty)) {
      materializeInitial(view, src.readVersion(toV), keys, aggs, toV)
      return
    }
    val dirty = src.changesDelta(fromV, toV)
      .select(keys.map(col): _*).distinct()
    // pin the recompute to toV: group values and watermark must
    // describe the SAME source state even if a commit lands mid-plan
    recomputeDirty(view, src.readVersion(toV), dirty, keys, aggs, toV)
  }

  /** Recompute exactly the `dirty` groups from `source` and merge
    * them (upserting changed groups, deleting vanished ones) with the
    * watermark `toV` — the shared dirty-group core of the batch
    * refresh and the streaming maintainer. `source` must be the
    * snapshot AT `toV`. */
  private[graft] def recomputeDirty(view: SnapshotTable,
                                    source: DataFrame, dirty0: DataFrame,
                                    keys: Seq[String],
                                    aggs: Seq[(String, Column)],
                                    toV: Long,
                                    extraProps: Map[String, String] =
                                      Map.empty): Unit = {
    // the dirty set is consumed three times (emptiness probe, the
    // semi-join, the delete-detection join) and is O(changed groups)
    // small — cache it so the feed/net-fold plan runs once
    val dirty = dirty0.persist()
    try {
      // one count fills the cache, probes emptiness AND sizes the
      // broadcast decision (at steady state the dirty set is tiny; an
      // initial fold or a long catch-up span can hold millions of
      // groups, where a forced broadcast would OOM the executors)
      val nDirty = dirty.count()
      if (nDirty == 0L) {
        // rewrite-only churn: NO group changed — the watermark still
        // must advance past the span, but as pure metadata, without a
        // source scan to discover the emptiness downstream
        advanceWatermark(view, toV, extraProps)
        return
      }
      // null-safe equality: a NULL group key is a real group and must
      // stay refreshable (a plain join would silently drop it forever).
      // The dirty side's columns are RENAMED to unique names and the
      // condition references them by name: for the join-view path the
      // dirty keys and `source` share base relations (both read the
      // fact at its head), and Column-based references across a
      // self-join lineage mis-resolve once DeduplicateRelations
      // rewrites the right side's attribute ids
      val dirtyR = dirty.toDF(keys.map(k => s"__mv_dirty_$k"): _*)
      val cond = keys.map(k => source(k) <=> col(s"__mv_dirty_$k"))
        .reduce(_ && _)
      val fresh = aggregateGroups(
        source.join(hintSmall("recompute.semi", dirtyR, nDirty), cond,
          "left_semi"),
        keys, aggs)
      // a dirty key absent from `fresh` lost its last row: delete it.
      // Left-outer FROM the dirty keys, broadcasting `fresh` (when
      // small): both sides are O(changed groups), but only the
      // non-preserved (right) side of a left-outer join is
      // broadcast-buildable — a broadcast hint on the preserved side
      // of an outer join is silently ignored and falls back to a
      // shuffle. `fresh` has at most one row per dirty key, so the
      // dirty count bounds its size for the decision.
      val dirtyKeyed = dirty.withColumn(KeyCol, keyExpr(keys))
      val out = dirtyKeyed.select(KeyCol)
        .join(hintSmall("recompute.outer", fresh, nDirty),
          Seq(KeyCol), "left_outer")
        .withColumn(CountCol, coalesce(col(CountCol), lit(0L)))
      commitMerged(view, keys, aggs.map(_._1),
        // deleted groups surface with NULL key/measure columns (KeyCol,
        // the preserved left side, is never null); the delete path only
        // needs KeyCol, and conformToSchema casts the nulls. One row per
        // dirty key by construction: the count is already known
        out, toV, additive = false, extraProps = extraProps,
        knownGroups = Some(nDirty))
    } finally dirty.unpersist()
  }

  /** Advance the view's watermark (and key-format stamp) as a
    * METADATA-ONLY commit — the no-group-changed refresh outcome. */
  private def advanceWatermark(view: SnapshotTable, toV: Long,
                               extraProps: Map[String, String] = Map.empty)
      : Unit =
    view.setProperties(Map(SourceVersionProp -> toV.toString,
      KeyFormatProp -> KeyFormat) ++ extraProps)

  // ---- persisted definitions: the SQL-driven refresh loop ----------

  /** Definition properties logged on the view by [[defineAdditive]] /
    * [[defineRecompute]] — enough to re-derive the whole refresh from
    * the view alone, which is what lets `CALL
    * graft.system.refresh_mv('ns.view')` run with no Scala in the
    * loop. The format is plain TBLPROPERTIES, so a view can equally
    * be DEFINED in pure SQL: `CREATE TABLE … TBLPROPERTIES
    * ('graft.mv.source' = '<path>', 'graft.mv.mode' = 'additive',
    * 'graft.mv.keys' = 'k1,k2',
    * 'graft.mv.measure.revenue' = '<expr sql>')` — one property per
    * measure, keyed by its output column name. */
  val SourceProp = "graft.mv.source"
  val ModeProp = "graft.mv.mode"
  /** ONE mode authority for declaration validation AND refresh
    * dispatch — two lists would drift and let DDL accept a mode
    * refresh refuses (or the reverse). */
  val ValidModes: Set[String] =
    Set("additive", "recompute", "additiveJoin", "recomputeJoin")
  val KeysProp = "graft.mv.keys"
  val MeasurePrefix = "graft.mv.measure."
  /** Join-view dim definitions: `graft.mv.dimCount` plus per-dim
    * `graft.mv.dim.<i>.{path,factKey,dimKey}` (and the refresh-stamped
    * [[dimVersionProp]]). */
  val DimCountProp = "graft.mv.dimCount"

  private def defProps(src: SnapshotTable, mode: String,
                       keys: Seq[String],
                       measures: Seq[(String, String)]): Map[String, String] =
    Map(SourceProp -> src.path, ModeProp -> mode,
      KeysProp -> keys.mkString(",")) ++
      measures.map { case (n, sql) => s"$MeasurePrefix$n" -> sql }

  /** [[refreshAdditive]] with measures as SQL EXPRESSION STRINGS, and
    * the whole definition (source path, mode, keys, measures) staged
    * onto the view's first commit — after this, anyone (including the
    * `refresh_mv` procedure, i.e. pure SQL) can refresh the view
    * without knowing its definition. */
  def defineAdditive(src: SnapshotTable, view: SnapshotTable,
                     keys: Seq[String],
                     sums: Seq[(String, String)]): Unit = {
    view.stageProperties(defProps(src, "additive", keys, sums))
    refreshAdditive(src, view, keys,
      sums.map { case (n, s) => (n, expr(s)) })
    persistDefinitionIfUncommitted(view, defProps(src, "additive", keys, sums))
  }

  /** [[refreshRecompute]]'s definition form — measures are SQL
    * AGGREGATE expression strings. */
  def defineRecompute(src: SnapshotTable, view: SnapshotTable,
                      keys: Seq[String],
                      aggs: Seq[(String, String)]): Unit = {
    view.stageProperties(defProps(src, "recompute", keys, aggs))
    refreshRecompute(src, view, keys,
      aggs.map { case (n, s) => (n, expr(s)) })
    persistDefinitionIfUncommitted(view, defProps(src, "recompute", keys, aggs))
  }

  private def dimDefProps(dims: Seq[DimSpec]): Map[String, String] =
    Map(DimCountProp -> dims.size.toString) ++
      dims.zipWithIndex.flatMap { case (d, i) =>
        Seq(s"graft.mv.dim.$i.path" -> d.table.path,
          s"graft.mv.dim.$i.factKey" -> d.factKey,
          s"graft.mv.dim.$i.dimKey" -> d.dimKey)
      }

  /** [[refreshAdditiveJoin]]'s definition form: the dims join the
    * logged definition (`graft.mv.dim.<i>.*`), so `CALL
    * graft.system.refresh_mv` can refresh the star rollup with no
    * Scala in the loop. */
  def defineAdditiveJoin(fact: SnapshotTable, dims: Seq[DimSpec],
                         view: SnapshotTable, keys: Seq[String],
                         sums: Seq[(String, String)]): Unit = {
    val props = defProps(fact, "additiveJoin", keys, sums) ++ dimDefProps(dims)
    view.stageProperties(props)
    refreshAdditiveJoin(fact, dims, view, keys,
      sums.map { case (n, s) => (n, expr(s)) })
    persistDefinitionIfUncommitted(view, props)
  }

  /** [[refreshRecomputeJoin]]'s definition form: star-join views with
    * arbitrary (non-additive) aggregates, refreshable from the logged
    * definition alone — mode `recomputeJoin` in the matrix. */
  def defineRecomputeJoin(fact: SnapshotTable, dims: Seq[DimSpec],
                          view: SnapshotTable, keys: Seq[String],
                          aggs: Seq[(String, String)]): Unit = {
    val props = defProps(fact, "recomputeJoin", keys, aggs) ++ dimDefProps(dims)
    view.stageProperties(props)
    refreshRecomputeJoin(fact, dims, view, keys,
      aggs.map { case (n, s) => (n, expr(s)) })
    persistDefinitionIfUncommitted(view, props)
  }

  /** Decode a join view's logged dims ([[dimDefProps]]). */
  private[graft] def dimsOf(view: SnapshotTable): Seq[DimSpec] = {
    val props = view.properties
    val n = props.get(DimCountProp).flatMap(_.toIntOption).getOrElse(
      throw new IllegalStateException(
        s"join view at ${view.path} logs no $DimCountProp"))
    (0 until n).map { i =>
      def need(k: String): String = props.getOrElse(s"graft.mv.dim.$i.$k",
        throw new IllegalStateException(
          s"join view at ${view.path} logs no graft.mv.dim.$i.$k"))
      DimSpec(SnapshotTable(view.session, need("path"), "_unused_read_only"),
        need("factKey"), need("dimKey"))
    }
  }

  /** Validate a view DEFINITION's `graft.mv.*` properties at
    * DECLARATION time — wired into the catalog's CREATE TABLE / ALTER
    * TABLE SET TBLPROPERTIES paths, so a malformed dim list or a
    * mistyped mode fails at the DDL statement with an operational
    * message instead of at the first `refresh_mv` (where the typo is
    * far from its cause). No-op when no `graft.mv.*` key is present.
    * Checks shape and referents, not column resolution (the join frame
    * only exists at refresh): mode known, keys nonempty, measures
    * present and PARSEABLE, source/dim tables committed, dim list
    * complete for `dimCount` with no stray indices. */
  def validateDefinitionProps(spark: SparkSession,
                              props: Map[String, String]): Unit = {
    val mvKeys = props.keys.filter(_.startsWith("graft.mv.")).toSeq.sorted
    // refresh-stamped bookkeeping (watermark, key format, dim pins) is
    // not a DEFINITION — a view whose definition keys were all unset
    // must not trap its leftover stamps in a validation that demands a
    // mode; conversely any real definition key demands the full shape
    val bookkeeping = Set(SourceVersionProp, KeyFormatProp)
    val defKeys = mvKeys.filterNot(k => bookkeeping(k) ||
      k.matches("""graft\.mv\.dim\.\d+\.version"""))
    if (defKeys.isEmpty) return
    def fail(msg: String): Nothing = throw new IllegalArgumentException(
      s"invalid materialized-view declaration: $msg " +
        s"(declared: ${mvKeys.mkString(", ")})")
    def need(k: String): String = props.getOrElse(k, fail(s"missing '$k'"))
    val mode = need(ModeProp)
    if (!ValidModes.contains(mode))
      fail(s"unknown $ModeProp '$mode' — one of " +
        ValidModes.toSeq.sorted.mkString(", "))
    val srcPath = need(SourceProp)
    if (!SnapshotTable(spark, srcPath, "_unused_read_only").exists)
      fail(s"$SourceProp '$srcPath' is not a committed graft table")
    if (!need(KeysProp).split(",", -1).exists(_.trim.nonEmpty))
      fail(s"$KeysProp must list at least one group key")
    val measures = props.filter(_._1.startsWith(MeasurePrefix))
    if (measures.isEmpty)
      fail(s"at least one $MeasurePrefix<name> measure is required")
    measures.foreach { case (k, sql) =>
      // parse EAGERLY via the session parser — Column construction
      // (expr) defers parsing, which would move the failure back to
      // the first refresh, exactly what this validation exists to avoid
      try spark.sessionState.sqlParser.parseExpression(sql)
      catch { case scala.util.control.NonFatal(e) =>
        fail(s"measure '$k' = '$sql' does not parse: ${e.getMessage}")
      }
    }
    val dimKeys = props.keys.filter(_.startsWith("graft.mv.dim.")).toSeq
    if (!mode.endsWith("Join")) {
      if (props.contains(DimCountProp) || dimKeys.nonEmpty)
        fail(s"mode '$mode' takes no dimensions — declare " +
          "additiveJoin/recomputeJoin for a star view, or drop the " +
          "graft.mv.dim* properties")
    } else {
      val n = props.get(DimCountProp)
        .getOrElse(fail(s"mode '$mode' needs $DimCountProp plus " +
          "graft.mv.dim.<i>.{path,factKey,dimKey} per dimension"))
        .toIntOption.filter(_ >= 1)
        .getOrElse(fail(s"$DimCountProp must be a positive integer, " +
          s"got '${props(DimCountProp)}'"))
      (0 until n).foreach { i =>
        Seq("factKey", "dimKey").foreach(k => need(s"graft.mv.dim.$i.$k"))
        val dp = need(s"graft.mv.dim.$i.path")
        if (!SnapshotTable(spark, dp, "_unused_read_only").exists)
          fail(s"graft.mv.dim.$i.path '$dp' is not a committed graft table")
      }
      // an index at/past dimCount is a typo'd declaration (a dim the
      // refresh would silently never join), not configuration noise
      val allowed = (0 until n).flatMap(i =>
        Seq("path", "factKey", "dimKey", "version")
          .map(k => s"graft.mv.dim.$i.$k")).toSet
      val stray = dimKeys.filterNot(allowed).sorted
      if (stray.nonEmpty)
        fail(s"dim properties outside $DimCountProp=$n: " +
          stray.mkString(", "))
    }
  }

  /** The refresh inside define* may be a NO-OP (view already current
    * with its source), in which case nothing committed and the staged
    * definition would be silently lost with the handle — a later
    * `refresh_mv` would then refuse the "defined" view. Persist it as
    * a metadata-only commit in that case. */
  private def persistDefinitionIfUncommitted(
      view: SnapshotTable, props: Map[String, String]): Unit =
    if (view.exists && !view.properties.contains(ModeProp))
      view.setProperties(props)

  /** A view's logged definition, decoded: (source handle, mode, group
    * keys, measures as Columns). ONE parser — and one set of
    * corruption-class guards (everything throws IllegalStateException
    * with the operational fact) — for the batch refresh AND the
    * streaming maintainer. */
  private[graft] def definitionOf(view: SnapshotTable)
      : (SnapshotTable, String, Seq[String], Seq[(String, Column)]) = {
    require(view.exists, s"no materialized view at ${view.path}")
    val props = view.properties
    def need(k: String): String = props.getOrElse(k,
      throw new IllegalStateException(
        s"view at ${view.path} logs no $k — not a DEFINED materialized " +
          "view (create it through defineAdditive/defineRecompute)"))
    val src = SnapshotTable(view.session, need(SourceProp),
      "_unused_read_only")
    if (!src.exists) throw new IllegalStateException(
      s"materialized-view source ${need(SourceProp)} no longer exists")
    val keys = need(KeysProp).split(",", -1).toSeq
      .map(_.trim).filter(_.nonEmpty)
    if (keys.isEmpty) throw new IllegalStateException(
      s"view at ${view.path} logs an empty $KeysProp — a definition " +
        "needs at least one group key")
    // one property per measure; alphabetical by output name so the
    // derived column order is deterministic (the merge conforms by
    // NAME, so order never affects results)
    val measures = props.toSeq
      .collect { case (k, sql) if k.startsWith(MeasurePrefix) =>
        (k.stripPrefix(MeasurePrefix), expr(sql))
      }.sortBy(_._1)
    if (measures.isEmpty) throw new IllegalStateException(
      s"view at ${view.path} logs no $MeasurePrefix* measures")
    val mode = need(ModeProp)
    if (!ValidModes.contains(mode))
      throw new IllegalStateException(
        s"unknown materialized-view mode '$mode' at ${view.path}")
    (src, mode, keys, measures)
  }

  /** Refresh a view from its LOGGED definition alone (the
    * `refresh_mv` procedure's engine): resolve the source, mode, keys
    * and measure SQL from the view's properties and dispatch to the
    * right refresh. Fails loudly on a view that carries no
    * definition. */
  def refreshByDefinition(view: SnapshotTable): Unit = {
    val (src, mode, keys, measures) = definitionOf(view)
    mode match {
      case "additive" => refreshAdditive(src, view, keys, measures)
      case "recompute" => refreshRecompute(src, view, keys, measures)
      case "additiveJoin" =>
        refreshAdditiveJoin(src, dimsOf(view), view, keys, measures)
      case "recomputeJoin" =>
        refreshRecomputeJoin(src, dimsOf(view), view, keys, measures)
    }
  }

  /** Merge refresh output into the view in ONE commit: upsert live
    * groups, delete emptied ones, stage the watermark. For the
    * additive path the incoming measures are DELTAS to fold onto the
    * current group values; for recompute they are final values.
    * `knownGroups`: the caller's exact row count of `incoming0`, when
    * it has one (the dirty-group recompute emits one row per dirty
    * key) — the count job is then skipped and the first consumer
    * fills the cache. */
  private[graft] def commitMerged(view: SnapshotTable, keys: Seq[String],
                           measures: Seq[String], incoming0: DataFrame,
                           toV: Long, additive: Boolean,
                           extraProps: Map[String, String] = Map.empty,
                           knownGroups: Option[Long] = None)
      : Unit = {
    // the delta is consumed at least twice (the emptiness probe plus
    // the merge — an aggregate plan re-executes in full under
    // isEmpty's limit(1), so the probe is NOT free on the raw frame)
    // and is O(changed groups) small: cache it for the duration
    val incoming = incoming0.persist()
    try {
      // one count fills the cache, probes emptiness AND sizes the
      // broadcast decision below
      val nGroups = knownGroups.getOrElse(incoming.count())
      // NO group changed (rewrite-only source churn — compaction,
      // clustering): advance the watermark as a METADATA-ONLY commit
      if (view.exists && nGroups == 0L) {
        advanceWatermark(view, toV, extraProps)
        return
      }
      val merged =
        if (!additive || !view.exists) incoming
        else {
          // old values for exactly the touched groups: semi-join
          // prunes the view scan to O(changed groups) rows BEFORE the
          // outer join folds them — never a broadcast of the view,
          // never a shuffle of it either when the delta is small; a
          // huge delta (initial fold, long catch-up) drops the hints
          // and shuffles instead of OOMing the executors
          val old = view.read
            .join(hintSmall("merge.semi", incoming.select(KeyCol), nGroups),
              Seq(KeyCol), "left_semi")
            .select(col(KeyCol) +:
              (measures :+ CountCol).map(m => col(m).as(s"__old_$m")): _*)
          // `old` is semi-join-bounded by the delta, so nGroups bounds
          // its row count for the broadcast decision too
          incoming.join(hintSmall("merge.fold", old, nGroups),
              Seq(KeyCol), "left_outer")
            .select(col(KeyCol) +: keys.map(col) ++:
              (measures :+ CountCol).map(m =>
                (coalesce(col(s"__old_$m"), lit(0L)) + col(m)).as(m)): _*)
        }
      val guarded = merged.withColumn(CountCol,
        when(col(CountCol) < 0L, raise_error(concat(lit(
          "materialized view fold went negative for group key "),
          col(KeyCol), lit(" — source feed and view state disagree"))))
          .otherwise(col(CountCol)))
      val out = guarded
        .withColumn(DropCol, col(CountCol) === 0L)
        .select(col(KeyCol) +: keys.map(col) ++:
          (measures :+ CountCol).map(col) :+ col(DropCol): _*)
      view.stageProperties(Map(SourceVersionProp -> toV.toString,
        KeyFormatProp -> KeyFormat) ++ extraProps)
      if (!view.exists) {
        view.create(out.filter(!col(DropCol)).drop(DropCol))
      } else view.upsertDelete(out, DropCol)
    } finally incoming.unpersist()
  }
}
