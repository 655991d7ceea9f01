package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType
import graft.expressions.PartitionFunctions

/** The engine's table abstraction: a thin, immutable wrapper over a lazy
  * `DataFrame` whose methods mirror the reference's `Dataset` interface
  * (reference: graphique/interface.py:74-535). Every method is a pure plan
  * transformation — nothing executes until an action; Catalyst owns
  * optimization (pushdown, pruning, join strategy, AQE).
  *
  * Ops that observe natural row order require the hidden row id from
  * [[Natural]] (attached by `Tables.loadOrdered`); order-free ops work on any
  * DataFrame and never force it.
  */
final case class GTable(df: DataFrame, sortedBy: Seq[Column] = Nil,
                        denseRid: Boolean = true) {
  import GTable._

  /** True when the frame already carries an explicit row ordering (set by
    * [[order]]); consumers must not re-sort by the natural row id then. */
  def isSorted: Boolean = sortedBy.nonEmpty

  /** True when the hidden row id (if present) still equals the 0-based
    * POSITION of each row in the current table — set false by any op that
    * removes/duplicates/reorders rows (filter, join, slice...). Position
    * ops (slice/rowAt/take) use the rid range-filter fast path only then;
    * otherwise they address positions of the current table via its order.
    * The rid stays a valid ORDER key either way. */
  def hasDensePositions: Boolean = denseRid && Natural.hasRowId(df)

  private def rid: Column = Natural.order(df)

  /** Result with hidden columns dropped. */
  def result: DataFrame = Natural.strip(df)

  // ─── Projection / filter (reference: interface.py:455-462,510-519) ───

  /** AND-ed predicates; empty → unchanged. Filtering preserves order but
    * breaks rid-position density. */
  def filter(preds: Column*): GTable =
    if (preds.isEmpty) this
    else GTable(df.filter(preds.reduce(_ && _)), sortedBy, denseRid = false)

  /** Add/replace columns (reference `project`); order-preserving. */
  def project(cols: (String, Column)*): GTable =
    copy(df = df.withColumns(cols.toMap))

  /** Keep only the named columns (plus hidden id if present). Projection
    * preserves any explicit ordering. */
  def select(names: String*): GTable = {
    val keep = if (Natural.hasRowId(df)) names :+ Natural.rid else names
    copy(df = df.select(keep.map(df.col): _*))
  }

  /** Cast listed columns; `tryMode` → null on failure (reference: interface.py:129-136). */
  def cast(types: Seq[(String, DataType)], tryMode: Boolean = false): GTable =
    copy(df = types.foldLeft(df) { case (d, (name, dt)) =>
      d.withColumn(name,
        if (tryMode) expr(s"try_cast(`$name` AS ${dt.sql})") else col(name).cast(dt))
    })

  /** Fill nulls in the named columns (reference: interface.py:442-453). */
  def fillNull(values: Map[String, Any]): GTable = copy(df = df.na.fill(values))

  /** Drop rows with any/all nulls in `subset` (reference: interface.py:437-440). */
  def dropNull(subset: Seq[String] = Nil, how: String = "any"): GTable =
    GTable(if (subset.isEmpty) df.na.drop(how) else df.na.drop(how, subset),
      sortedBy, denseRid = false)

  /** Explode struct columns into top-level fields (reference: interface.py:324-327). */
  def unpack(names: String*): GTable =
    copy(df = names.foldLeft(df)((d, n) => d.select((d.columns.filterNot(_ == n)
      .map(c => d.col(c)) :+ expr(s"`$n`.*")): _*)))

  // ─── Aggregation (reference: interface.py:185-243) ───

  /** Hash aggregation. Empty `by` = whole-table single row. `aggs` are
    * already-aliased aggregate Columns (see graft.functions.GAggs for the
    * reference's aggregate surface: filtered, ordered first/last, argmax…).
    * `counts` adds a group-size column. Map-side partial aggregation and
    * shuffle-on-keys come free from Catalyst's HashAggregate split.
    */
  def group(by: Seq[String], aggs: Seq[Column], counts: Option[String] = None,
            firstSeenOrder: Boolean = false): GTable = {
    val ordAgg = if (firstSeenOrder) Seq(min(rid).as(Natural.rid)) else Nil
    val allAggs = aggs ++ counts.map(n => GTable.cnt.as(n)) ++ ordAgg
    val a = if (allAggs.isEmpty) Seq(GTable.cnt.as("count")) else allAggs
    // NOTE (r13, measured): multi-distinct aggregates keep Spark's Expand
    // plan DELIBERATELY. Splitting count(DISTINCT a), count(DISTINCT b)
    // into per-column dedup branches joined on the group key shuffles the
    // same distinct-pair volume (Expand already map-side-dedups per gid)
    // but pays a SECOND corpus scan — measured 2.6 s → 6.3-11 s on
    // q_nunique at ×50 (ndv(l_orderkey) ≈ rows/4). See
    // plans/r13/q_nunique_split_rejected.txt.
    val grouped =
      if (by.isEmpty) df.agg(a.head, a.tail: _*)
      else df.groupBy(by.map(col): _*).agg(a.head, a.tail: _*)
    // `order` on group: re-sort groups to first-seen order via min(row id)
    // (reference: interface.py:217-243)
    GTable(if (firstSeenOrder) grouped.orderBy(col(Natural.rid)) else grouped,
      denseRid = false)
  }

  /** Dedup on `on`, keeping first/last (by natural order) or none; optional
    * per-key counts (reference: interface.py:185-215). keep=first/last is a
    * single shuffled window (`row_number` over keys by row id) — no join.
    */
  def distinctOn(on: Seq[String], keep: String = "first",
                 counts: Option[String] = None): GTable = keep match {
    case "none" =>
      counts match {
        case None => GTable(Natural.strip(df).dropDuplicates(on))
        case Some(c) => GTable(Natural.strip(df).groupBy(on.map(col): _*).agg(GTable.cnt.as(c)))
      }
    case "first" | "last" =>
      val ord = if (keep == "first") rid.asc else rid.desc
      val w = Window.partitionBy(on.map(col): _*).orderBy(ord)
      val counted = counts match {
        case None => df
        case Some(c) => df.withColumn(c, GTable.cnt.over(Window.partitionBy(on.map(col): _*)))
      }
      GTable(counted.withColumn("_gq_rn", row_number().over(w))
        .filter(col("_gq_rn") === 1).drop("_gq_rn"), denseRid = false)
    case other => throw new IllegalArgumentException(s"keep=$other")
  }

  // ─── Sort / limit / top-k (reference: interface.py:245-299) ───

  /** Multi-key sort; with `limit` Catalyst plans TakeOrderedAndProject (no
    * full sort at scale). With `over`, a per-partition limit via row_number.
    */
  def order(by: Seq[Column], limit: Option[Int] = None,
            over: Seq[String] = Nil): GTable =
    if (over.nonEmpty) {
      val w = Window.partitionBy(over.map(col): _*).orderBy(by: _*)
      val limited = df.withColumn("_gq_rn", row_number().over(w))
      GTable(limit.fold(limited.orderBy((over.map(col(_).asc) ++ by): _*))(k =>
        limited.filter(col("_gq_rn") <= k)).drop("_gq_rn"), denseRid = false)
    } else {
      val sorted = df.orderBy(by: _*)
      GTable(limit.fold(sorted)(sorted.limit), sortedBy = by, denseRid = false)
    }

  /** Top-k *by rank* — all rows whose (dense) rank < k, keeping ties
    * (reference: interface.py:269-299). Global rank (empty `over`) uses a
    * semi-join against the distinct ordered key mask so no single-partition
    * window is ever run — the reference's own high-cardinality strategy.
    */
  def firstRank(by: Seq[String], rank: Int = 1, dense: Boolean = false,
                over: Seq[String] = Nil): GTable = {
    val ord = orderKeys(by)
    if (over.nonEmpty) {
      val w = Window.partitionBy(over.map(col): _*).orderBy(ord: _*)
      val rk = if (dense) dense_rank() else org.apache.spark.sql.functions.rank()
      GTable(df.withColumn("_gq_rk", rk.over(w))
        .filter(col("_gq_rk") <= rank).drop("_gq_rk"), denseRid = false)
    } else {
      // semi-join against the ordered key mask: never a single-partition
      // global window (the reference's own strategy for high-cardinality
      // `first`, interface.py:294-299). Sparse rank = distinct of the first
      // k *rows*; dense rank = first k *distinct values*.
      val keyNames = by.map(k => k.stripPrefix("-"))
      val keyDf = df.select(keyNames.map(col): _*)
      val mask =
        if (dense) keyDf.distinct().orderBy(ord: _*).limit(rank)
        else keyDf.orderBy(ord: _*).limit(rank).distinct()
      GTable(df.join(broadcast(mask), keyNames, "left_semi"), denseRid = false)
    }
  }

  /** Contiguous rows of the *current* table: positions follow the explicit
    * sort when one was applied (the reference slices the sorted table,
    * interface.py:181-183), else natural order. Negative offset = from the
    * end. The sorted path is Offset+Limit over the already-sorted plan —
    * only offset+limit rows are ever gathered, never a global row_number
    * window; the natural path is a row-id range filter pushed to the scan.
    */
  def slice(offset: Long, limit: Option[Long] = None,
            densifyOffset: Option[Long] = None): GTable = {
    val off = if (offset < 0) math.max(0L, df.count() + offset) else offset
    if (isSorted) {
      require(off <= Int.MaxValue, s"sorted slice offset $off exceeds Int range")
      val sliced = df.offset(off.toInt)
      GTable(limit.fold(sliced)(l => sliced.limit(l.toInt)), sortedBy,
        denseRid = false)
    } else if (hasDensePositions) {
      val hi = limit.map(off + _)
      GTable(df.filter(rid >= off && hi.map(rid < _).getOrElse(lit(true)))
        .orderBy(rid), denseRid = false)
    } else if (Natural.hasRowId(df) &&
        // the caller's explicit threshold wins over the session knob —
        // gates thread it as a parameter so no concurrently running query
        // observes a mutated session conf (round-10 ADVICE #4)
        off >= densifyOffset
          .orElse(df.sparkSession.conf.getOption("spark.graft.slice.densifyOffset")
            .map(_.toLong)).getOrElse(1L << 20)) {
      // DEEP offset on a sparse rid (e.g. slice far into a filtered table):
      // Offset+Limit materializes per-partition top-(off+limit) heaps — a
      // memory hazard once off is large. Re-rank the sparse rid dense
      // (densify: block prefix-sum, no global sort) and the slice becomes
      // the pushed rid range filter of the dense branch.
      densify().slice(off, limit)
    } else {
      // positions of the CURRENT table (e.g. after a filter, where the rid
      // is sparse): order by the rid if present and Offset+Limit — bounded
      // gather, no positional re-numbering
      require(off <= Int.MaxValue, s"slice offset $off exceeds Int range")
      val ordered = if (Natural.hasRowId(df)) df.orderBy(rid) else df
      val sliced = ordered.offset(off.toInt)
      GTable(limit.fold(sliced)(l => sliced.limit(l.toInt)), denseRid = false)
    }
  }

  /** One row by position in the current table order (reference:
    * interface.py:499-508). */
  def rowAt(index: Long): GTable = slice(index, Some(1L))

  /** Materialize rows by positional index, preserving the request's order
    * AND multiplicity (reference: interface.py:424-435 — pyarrow take
    * semantics: duplicate indices repeat rows, output follows the request).
    * The tiny (index, position) request frame is broadcast-hash-joined
    * against the row id — no shuffle of the fact table, duplicates survive
    * via join multiplicity. On a sorted table, positions index the sorted
    * order: the plan is first cut to the max requested position + 1 rows
    * (TakeOrderedAndProject) so the necessary row_number window only ever
    * sees that bounded prefix. */
  def take(indices: Seq[Long]): GTable = {
    if (indices.isEmpty) return GTable(df.limit(0), denseRid = false)
    val spark = df.sparkSession
    import spark.implicits._
    val req = indices.zipWithIndex.map { case (r, p) => (r, p.toLong) }
      .toDF("_gq_take_idx", "_gq_take_pos")
    val posed =
      if (hasDensePositions && !isSorted) df.withColumn("_gq_take_rid", rid)
      else {
        // positions index the current order (explicit sort, else rid order):
        // cut the plan to the max position + 1 rows first so the positional
        // row_number window only sees that bounded prefix
        val bound = indices.max + 1
        require(bound <= Int.MaxValue, s"take index $bound exceeds Int range")
        val ordKeys = if (isSorted) sortedBy
          else if (Natural.hasRowId(df)) Seq(rid.asc)
          else throw new IllegalArgumentException(
            "take: table has neither an explicit sort nor a natural row id")
        df.orderBy(ordKeys: _*).limit(bound.toInt)
          .withColumn("_gq_take_rid",
            row_number().over(Window.orderBy(ordKeys: _*)).cast("long") - 1L)
      }
    GTable(posed.join(broadcast(req), col("_gq_take_rid") === col("_gq_take_idx"))
      .orderBy(col("_gq_take_pos"))
      .drop("_gq_take_rid", "_gq_take_idx", "_gq_take_pos"), denseRid = false)
  }

  /** Existence probe scanning ≤ limit rows (reference: interface.py:151-157). */
  def any(limit: Int = 1): Boolean = df.limit(limit).count() >= limit

  def count(): Long = df.count()

  // ─── Joins (reference: interface.py:329-395) ───

  /** Equi-join on key name pairs; overlapping non-key right columns renamed
    * with `rname` format (default `{name}_right`), as the reference does.
    * Catalyst/AQE picks broadcast vs shuffled-hash vs sort-merge.
    */
  def join(right: GTable, keys: Seq[String], rkeys: Seq[String] = Nil,
           how: String = "inner", rname: String => String = _ + "_right"): GTable = {
    val rk = if (rkeys.isEmpty) keys else rkeys
    val r0 = Natural.strip(right.df)
    val l0 = if (how == "right") Natural.strip(df) else df
    // align right key names to left ones so we can use the Seq[String] join
    // (single output key column, no ambiguity)
    val rAligned = rk.zip(keys).foldLeft(r0) { case (d, (from, to)) =>
      if (from == to) d else d.withColumnRenamed(from, to) }
    val overlap = rAligned.columns.toSet.intersect(l0.columns.toSet) -- keys.toSet
    val rRenamed = overlap.foldLeft(rAligned)((d, c) => d.withColumnRenamed(c, rname(c)))
    GTable(l0.join(rRenamed, keys, how), denseRid = false)
  }

  def crossJoin(right: GTable): GTable =
    GTable(Natural.strip(df).crossJoin(Natural.strip(right.df)), denseRid = false)

  /** As-of join (reference: interface.py:354-383): for each left row the
    * nearest right row with r.on ≤ l.on (backward direction), matched within
    * optional equality `keys` and optional `tolerance` predicate on the two
    * time values; left-join semantics (no match → nulls).
    *
    * Scale-first strategy: NOT a range join (quadratic blowup on dense
    * keys). Both sides are tagged and unioned, then a single
    * partition-by-key, sort-by-(time, side) window computes
    * `last(right_struct, ignoreNulls)` per row — one shuffle of each input,
    * linear work, identical to the merge-asof algorithm distributed on the
    * key hash. Right rows sort before left rows at equal times, making the
    * match inclusive (r.on == l.on matches).
    *
    * With `keys = Nil` the merge is RANGE-partitioned on the time value
    * (never a single global window): per-range windows run in parallel and
    * each range's leading rows are back-filled with the latest right row of
    * preceding ranges — a [[BlockScan]] over one row per range partition,
    * in the plan, so the action is one query execution.
    */
  def asofJoin(right: GTable, on: String, rOn: String = "",
               keys: Seq[String] = Nil, rkeys: Seq[String] = Nil,
               tolerance: Option[(Column, Column) => Column] = None,
               rname: String => String = _ + "_right"): GTable = {
    val ron0 = if (rOn.isEmpty) on else rOn
    val rk = if (rkeys.isEmpty) keys else rkeys
    val l0 = Natural.strip(df)
    val r0 = Natural.strip(right.df)
    val leftCols = l0.columns.toSeq
    // align right key names to left, rename clashing right value columns
    val rAligned = rk.zip(keys).foldLeft(r0) { case (d, (from, to)) =>
      if (from == to) d else d.withColumnRenamed(from, to) }
    val clashes = rAligned.columns.filterNot(keys.contains).filter(leftCols.contains)
    val rRenamed = clashes.foldLeft(rAligned)((d, c) => d.withColumnRenamed(c, rname(c)))
    val ron = if (clashes.contains(ron0)) rname(ron0) else ron0
    val rValueCols = rRenamed.columns.filterNot(keys.contains).toSeq

    val lStruct = struct(leftCols.map(l0.col): _*)
    val rStruct = struct(rValueCols.map(rRenamed.col): _*)
    val lType = l0.select(lStruct.as("s")).schema("s").dataType
    val rType = rRenamed.select(rStruct.as("s")).schema("s").dataType

    val lSide = l0.select(keys.map(col) ++ Seq(col(on).as("_gq_t"),
      lStruct.as("_gq_l"), lit(null).cast(rType).as("_gq_r")): _*)
    val rSide = rRenamed.select(keys.map(col) ++ Seq(col(ron).as("_gq_t"),
      lit(null).cast(lType).as("_gq_l"), rStruct.as("_gq_r")): _*)

    // a row's side is whether it carries the left struct (never null on a
    // left row). Deriving it, not tagging it, keeps every consumer of the
    // union on the same columns, so the keyless branch's two consumers of
    // its range exchange prune it alike and share one exchange.
    val isLeft = col("_gq_l").isNotNull
    // right rows sort before left rows at equal times: r.on == l.on matches
    val order = Seq(col("_gq_t").asc, isLeft.asc, col("_gq_r").asc)
    def lastRight(part: Column*) = last(col("_gq_r"), ignoreNulls = true).over(
      Window.partitionBy(part: _*).orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val unioned = lSide.unionByName(rSide)
    val withM =
      if (keys.nonEmpty) unioned.withColumn("_gq_m", lastRight(keys.map(col): _*))
      else {
        // keyless: one unpartitioned window would serialize the table.
        // Range-partition by time (the partition id becomes DATA), run the
        // window per range, and fill each range's leading unmatched rows
        // with a last-non-null scan of the latest right row per range.
        val ranged = unioned
          .repartitionByRange(df.sparkSession.sessionState.conf.numShufflePartitions,
            order: _*)
          .withColumn("_gq_pid", spark_partition_id())
        BlockScan.exclusive(ranged, "_gq_pid",
            max_by(when(!isLeft, col("_gq_r")),
              when(!isLeft, struct(col("_gq_t"), col("_gq_r")))),
            last(_, ignoreNulls = true), "_gq_prev")
          .withColumn("_gq_m", coalesce(lastRight(col("_gq_pid")), col("_gq_prev")))
      }
    val matched = withM.filter(isLeft)
    val inTol = tolerance match {
      case None => col("_gq_m").isNotNull
      case Some(p) => col("_gq_m").isNotNull && p(col("_gq_t"), col("_gq_m").getField(ron))
    }
    val withMatch = matched.withColumn("_gq_ok", inTol)
    val out = keys.map(col) ++
      leftCols.filterNot(keys.contains).map(c => col("_gq_l").getField(c).as(c)) ++
      rValueCols.map(c => when(col("_gq_ok"), col("_gq_m").getField(c)).as(c))
    GTable(withMatch.select(out: _*), denseRid = false)
  }

  /** Index join (reference `takeFrom`, models.py:215-221): use this table's
    * int column `field` as natural-order row indices into `other` (which
    * must carry the row id). Semi-join on the id — "orders of magnitude
    * faster than a scan" per the reference; here it is also broadcast-able.
    */
  def takeFrom(field: String, other: GTable): GTable = {
    val indices = df.select(col(field).cast("long").as(Natural.rid)).distinct()
    GTable(other.df.join(broadcast(indices), Seq(Natural.rid), "left_semi")
      .orderBy(col(Natural.rid)), denseRid = false)
  }

  // ─── Set ops (reference: interface.py:397-422) ───
  // Reference defaults: union = multiset (UNION ALL); intersect/difference = set.

  def union(others: Seq[GTable], distinct: Boolean = false): GTable = {
    val u = others.foldLeft(Natural.strip(df))((d, o) => d.unionByName(Natural.strip(o.df)))
    GTable(if (distinct) u.distinct() else u)
  }

  def intersect(others: Seq[GTable], distinct: Boolean = true): GTable =
    GTable(others.foldLeft(Natural.strip(df))((d, o) =>
      if (distinct) d.intersect(Natural.strip(o.df)) else d.intersectAll(Natural.strip(o.df))))

  def difference(others: Seq[GTable], distinct: Boolean = true): GTable =
    GTable(others.foldLeft(Natural.strip(df))((d, o) =>
      if (distinct) d.except(Natural.strip(o.df)) else d.exceptAll(Natural.strip(o.df))))

  // ─── Reshaping (reference: interface.py:301-322,464-489) ───

  /** Explode an array column; `offsetAlias` adds the element offset;
    * `keepEmpty` keeps empty/null arrays as a null row. */
  def unnest(name: String, offsetAlias: Option[String] = None,
             keepEmpty: Boolean = false): GTable = {
    val others = df.columns.filterNot(_ == name).map(df.col)
    val exploded = (offsetAlias, keepEmpty) match {
      case (None, false)    => df.select((others :+ explode(col(name)).as(name)): _*)
      case (None, true)     => df.select((others :+ explode_outer(col(name)).as(name)): _*)
      case (Some(o), false) => df.select((others ++ Seq(posexplode(col(name)))): _*)
        .withColumnRenamed("pos", o).withColumnRenamed("col", name)
      case (Some(o), true)  => df.select((others ++ Seq(posexplode_outer(col(name)))): _*)
        .withColumnRenamed("pos", o).withColumnRenamed("col", name)
    }
    GTable(exploded, denseRid = false)
  }

  /** Gaps-and-islands: group by *adjacent* equal values of `by` (plus custom
    * boolean `split` predicates evaluated against the change row), aggregate
    * per run (reference: interface.py:464-489). Classic lag → change flag →
    * cumulative sum → run id → groupBy. Requires natural order.
    */
  /** Distributed gaps-and-islands over natural order — the 100 TB path.
    *
    * Exploits the DENSE 0-based row id: the predecessor of row i is rid
    * i−1, which within a block is `lag(1)` over the block-partitioned
    * window — NO adjacency join (the former rid+1 equi-join shuffled the
    * corpus through a two-sided exchange pair that only local-mode AQE
    * hid; guide §2.4 "remove shuffles outright"). Only each block's FIRST
    * row needs a cross-block predecessor, and those predecessors are
    * exactly the rows with rid ≡ blockSize−1 (mod blockSize): one row per
    * block, read column-pruned from the input and broadcast back. Run ids
    * come from a block prefix sum as before — and both the lag window,
    * the within-block running count and the per-block totals aggregation
    * key on `_gq_blk`, so the WHOLE pipeline is one corpus exchange.
    *
    * `split` predicates receive (current, previous) column accessors.
    */
  def runsDistributed(by: Seq[String],
                      split: Seq[(String => Column, String => Column) => Column] = Nil,
                      aggs: Seq[Column] = Nil, counts: Option[String] = None,
                      blockSize: Long = 1L << 20): GTable = {
    // adjacency here is rid arithmetic — valid only while the rid is
    // dense positions; after a filter use `runs` (rid-ordered window)
    require(hasDensePositions,
      "runsDistributed requires dense natural positions; use runs() on filtered tables")
    // with no custom split predicates only the `by` columns are ever
    // compared, so only they ride the lag/boundary frames (guide §2.3
    // "project before the exchange"); opaque split lambdas may touch any
    // column, so they keep the full row
    val needed =
      if (split.isEmpty) by.distinct
      else (by ++ df.columns.filterNot(_ == Natural.rid)).distinct
    val withBlk = df.withColumn("_gq_blk", (col(Natural.rid) / blockSize).cast("long"))
    val wLag = Window.partitionBy(col("_gq_blk")).orderBy(col(Natural.rid))
    val lagged = needed.foldLeft(withBlk)((d, c) =>
      d.withColumn(s"_gq_l_$c", lag(col(c), 1).over(wLag)))
    // one row per block: the last row of block b−1 carries block b's
    // cross-block predecessor values (rid dense ⇒ rid b·blockSize−1 exists
    // whenever block b is nonempty and b ≥ 1)
    val boundary = df.filter(col(Natural.rid) % blockSize === blockSize - 1)
      .select(((col(Natural.rid) / blockSize).cast("long") + 1L).as("_gq_blk") +:
        needed.map(c => col(c).as(s"_gq_b_$c")): _*)
    val isFirstOfBlk = col(Natural.rid) % blockSize === 0
    val cur = (c: String) => col(c)
    val prev = (c: String) =>
      when(isFirstOfBlk, col(s"_gq_b_$c")).otherwise(col(s"_gq_l_$c"))
    val changes = by.map(c => !(cur(c) <=> prev(c))) ++ split.map(f => f(cur, prev))
    val flagged = lagged.join(broadcast(boundary), Seq("_gq_blk"), "left")
      .withColumn("_gq_chg",
        when(col(Natural.rid) === 0, 1L)
          .otherwise(when(changes.reduce(_ || _), 1L).otherwise(0L)))
      .select(df.columns.map(col) :+ col("_gq_chg") :+ col("_gq_blk"): _*)
    // per-block flag counts → exclusive prefix sum, kept in the plan: a
    // collect is its own action, and exchange reuse never spans actions,
    // so a driver-side prefix would re-run the whole input subtree
    val wBlk = Window.partitionBy(col("_gq_blk")).orderBy(col(Natural.rid))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withRun = BlockScan.exclusive(flagged, "_gq_blk", sum("_gq_chg"), sum,
        "_gq_off", zero = Some(lit(0L)))
      .withColumn("_gq_run", col("_gq_off") + sum(col("_gq_chg")).over(wBlk) - 1)
    GTable(GTable.aggRuns(withRun, by, aggs, counts), denseRid = false)
  }

  /** Distributed cumulative aggregate over natural order (reference
    * cumsum/cummax/cummin with empty `by`) — no single-partition window.
    *
    * Dense-rid block decomposition: per-block running aggregate (window
    * partitioned by block — parallel) combined with the exclusive prefix of
    * all previous blocks' totals ([[BlockScan]], in the plan). `agg` must be
    * its own combine over block totals and `combine` the matching binary
    * form: sum/+, max/greatest, min/least. A null on either side (no
    * earlier block, or only nulls so far in this one) yields the other,
    * as the running window does.
    */
  def cumulative(valueCol: Column, alias: String,
                 agg: Column => Column,
                 combine: (Column, Column) => Column,
                 blockSize: Long = 1L << 20): GTable = {
    val withBlk = df.withColumn("_gq_blk", (rid / blockSize).cast("long"))
    val wBlk = Window.partitionBy(col("_gq_blk")).orderBy(rid)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val (pref, within) = (col("_gq_pref"), col(alias))
    val out = BlockScan.exclusive(withBlk, "_gq_blk", agg(valueCol), agg, "_gq_pref")
      .withColumn(alias, agg(valueCol).over(wBlk))
      .withColumn(alias, coalesce(combine(pref, within), within, pref))
      .drop("_gq_blk", "_gq_pref")
    copy(df = out)
  }

  // ─── Sink (reference: the dataset is also a pipeline stage; SURVEY §2.1
  //      sink — user-facing write, reusing the hive repartitioner and the
  //      bucketed-table path from Scale) ───

  /** Write the table as parquet. `partitionBy` → hive layout with optional
    * within-fragment sort (ParquetMeta.repartitionTo: clustered so each
    * partition directory is written by one task, not #tasks fragment
    * files); `bucketBy` → a bucketed+sorted saved table for exchange-free
    * repeated joins (Scale.writeBucketed); neither → plain parquet dir.
    * Hidden columns are stripped; explicit sort is preserved in file order
    * for the plain path. */
  def write(dest: String, partitionBy: Seq[String] = Nil,
            sortWithin: Seq[String] = Nil,
            bucketBy: Option[(Int, Seq[String])] = None): Unit = {
    val out = result
    (partitionBy, bucketBy) match {
      case (_, Some((n, keys))) =>
        graft.core.Scale.writeBucketed(out, dest, keys, n)
      case (keys, None) if keys.nonEmpty =>
        graft.sources.ParquetMeta.repartitionTo(out, dest, keys, sortWithin)
      case _ =>
        val sorted = if (sortWithin.nonEmpty)
          out.sortWithinPartitions(sortWithin.map(col): _*) else out
        sorted.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dest)
    }
  }

  /** Distributed per-key rankings for LOW-CARDINALITY partition keys — the
    * case where a plain window collapses to #keys tasks no matter how many
    * executors exist.
    *
    * Strategy: range-repartition on (keys, order) so each range holds a
    * contiguous slice of every key's sorted run; compute in-range window
    * ranks (parallel across ranges); add each (key, range)'s exclusive
    * prefix — rows and distinct order values in the key's earlier ranges —
    * and the key's row total from one [[BlockScan]] over the ranked rows.
    * Equal (keys ++ order) tuples land in one range, so a tie never spans
    * a range boundary and the prefixes need no tie adjustment. The whole
    * ranking is one lazy plan: the ranked rows and the totals read ONE
    * (reused) range exchange, so they see the same range bounds.
    *
    * `desc(i)` flips the i-th order column. Outputs are 0-based like the
    * reference's ranking block; percentRank/ntile derive from the merged
    * rank/rowNumber and per-key totals.
    */
  def rankings(partKeys: Seq[String], orderCols: Seq[Column],
               desc: Seq[Boolean] = Nil,
               rowNumber: Option[String] = None, rank: Option[String] = None,
               denseRank: Option[String] = None,
               percentRank: Option[String] = None,
               ntile: Option[(Int, String)] = None): GTable = {
    val nParts = df.sparkSession.sessionState.conf.numShufflePartitions
    // materialize order values as plain columns once: the range bounds and
    // the in-range windows must sort on the same values
    val ordNames = orderCols.indices.map(i => s"_gq_o$i")
    val sorted = ordNames.zipWithIndex.map { case (n, i) =>
      if (desc.lift(i).getOrElse(false)) col(n).desc else col(n).asc }
    val keyCols = partKeys.map(col)
    val ordered = df.withColumns(ordNames.zip(orderCols).toMap)
    // the range id pins every column: the totals' narrow aggregation and the
    // ranked rows then read ONE range exchange, i.e. one bounds sample
    val ranged = ordered.repartitionByRange(nParts, (keyCols ++ sorted): _*)
      .withColumn("_gq_pid", PartitionFunctions.pinnedPartitionId(ordered))
    val wp = Window.partitionBy((col("_gq_pid") +: keyCols): _*).orderBy(sorted: _*)
    // unrequested windows are pruned from the plan
    val ranked = ranged
      .withColumn("_gq_wrn", row_number().over(wp))
      .withColumn("_gq_wrk", org.apache.spark.sql.functions.rank().over(wp))
      .withColumn("_gq_wdr", dense_rank().over(wp))
    // per (key, range): rows, and distinct order values = max(dense_rank)
    var out = BlockScan.exclusive(ranked, "_gq_pid", GTable.cnt, sum, "_gq_pr",
      zero = Some(lit(0L)), grandTotal = Some("_gq_nk"), by = partKeys,
      also = Seq(max(col("_gq_wdr")) -> "_gq_pd"))
    val rn0 = col("_gq_pr") + col("_gq_wrn") - 1
    val rk0 = col("_gq_pr") + col("_gq_wrk") - 1
    val dr0 = col("_gq_pd") + col("_gq_wdr") - 1
    rowNumber.foreach(a => out = out.withColumn(a, rn0.cast("int")))
    rank.foreach(a => out = out.withColumn(a, rk0.cast("int")))
    denseRank.foreach(a => out = out.withColumn(a, dr0.cast("int")))
    percentRank.foreach(a => out = out.withColumn(a,
      when(col("_gq_nk") === 1, lit(0.0))
        .otherwise(rk0.cast("double") / (col("_gq_nk") - 1))))
    ntile.foreach { case (b, a) =>
      // Spark ntile: the first n%b tiles carry one extra row
      val q = (col("_gq_nk") / b).cast("long")
      val r = col("_gq_nk") % b
      val bigSpan = (q + 1) * r
      out = out.withColumn(a,
        when(rn0 < bigSpan, (rn0 / (q + 1)).cast("int"))
          .otherwise((r + ((rn0 - bigSpan) / greatest(q, lit(1L)))).cast("int")))
    }
    GTable(out.drop((Seq("_gq_pid", "_gq_wrn", "_gq_wrk", "_gq_wdr",
      "_gq_pr", "_gq_pd", "_gq_nk") ++ ordNames): _*), denseRid = false)
  }

  /** Estimated input rows from the optimized plan: CBO row count when
    * available, else sizeInBytes over the schema's default row width (a
    * width OVER-estimate, so the row estimate errs low — conservative for
    * callers that flip strategies above a row threshold). Plan-only; never
    * runs a job. */
  def estimatedRows: Long = {
    val stats = df.queryExecution.optimizedPlan.stats
    stats.rowCount.map(_.toLong).getOrElse(
      (stats.sizeInBytes / BigInt(math.max(1, df.schema.defaultSize))).toLong)
  }

  /** Ranking block with AUTOMATIC strategy choice. A plain
    * `PARTITION BY keys` window collapses to #distinct-keys tasks — at
    * cluster scale a 3-key ranking runs on 3 cores no matter how many
    * executors exist — while [[rankings]] range-partitions and adds
    * per-range prefix totals, paying fixed cost for parallelism that only
    * wins on big inputs. This entry point picks per-plan: [[rankings]] when the
    * estimated row count reaches the flip threshold, the plain window
    * otherwise, so callers need not know both.
    *
    * The threshold derives from the CLUSTER, not a constant (round-7
    * verdict): with per-core rate c, K window tasks and P total cores, the
    * window runs in rows/(c·K), the distributed plan in rows/(c·P) plus a
    * fixed stats/merge overhead F — so the crossover is
    * `rows* = F·c / (1/K − 1/P)`. rows* measured ≈ 7.2M at P = 32 on the
    * ×12 corpus's 3-key ranking (BASELINE.md, "Rankings-strategy
    * crossover at ×12"), giving F·c ≈ 2.2M per-core
    * row-equivalents (`spark.graft.rankings.perCoreRows`); K is unknown
    * pre-execution, so a conservative constant `RankingsAssumedKeys`
    * (4 — at P = 32 the formula then lands on the measured ~10M)
    * stands in. More cores ⇒ a LOWER flip (the distributed plan's
    * advantage grows); P ≤ K ⇒ never flip (the window already uses every
    * core). `spark.graft.rankings.flipRows` remains the explicit override.
    */
  /** The dispatch decision [[rankingsAuto]] takes on this plan, exposed so
    * probes and specs can OBSERVE the flip instead of inferring it from
    * wall time: (rows used for the decision, flip threshold, flips?).
    *
    * The plan-stats estimate divides COMPRESSED parquet bytes by the
    * UNCOMPRESSED row width, so it errs low by the compression ratio —
    * measured ~6× on the ×50 soak corpus (est 5.1M vs 30M true rows),
    * which silently withheld the flip at exactly the scale it exists for.
    * Rather than bake in a compression-ratio guess, the AMBIGUOUS band
    * (est < flip ≤ est·`RankingsMaxExpansion`, a constant 8) pays one
    * exact count — parquet count() resolves from
    * row-group metadata, seconds next to the tens-of-seconds ranking the
    * decision governs — and decides on true rows. Below the band the
    * plain window proceeds with no extra job. */
  def rankingsFlip: (Long, Long, Boolean) = {
    val conf = df.sparkSession.conf
    val flipRows = conf.getOption("spark.graft.rankings.flipRows")
      .map(_.toLong).getOrElse {
        val p = conf.getOption("spark.graft.rankings.parallelism").map(_.toInt)
          .getOrElse(df.sparkSession.sparkContext.defaultParallelism)
        val perCore = conf.getOption("spark.graft.rankings.perCoreRows")
          .map(_.toLong).getOrElse(2200000L)
        val kAssumed = GTable.RankingsAssumedKeys
        if (p <= kAssumed) Long.MaxValue
        else (perCore / (1.0 / kAssumed - 1.0 / p)).toLong
      }
    // leaf nodes without stats (LogicalRDD after a localCheckpoint, some
    // views) default sizeInBytes to spark.sql.defaultSizeInBytes =
    // Long.MaxValue — "unknown", not "huge". Unknown size keeps the plain
    // window: flipping to the high-intercept distributed plan on no
    // evidence is the worse failure mode
    val stats = df.queryExecution.optimizedPlan.stats
    val unknownSize = stats.rowCount.isEmpty &&
      stats.sizeInBytes >= df.sparkSession.sessionState.conf.defaultSizeInBytes
    val est = estimatedRows
    if (unknownSize || flipRows == Long.MaxValue) (est, flipRows, false)
    else if (est >= flipRows) (est, flipRows, true)
    else if (stats.rowCount.isDefined) (est, flipRows, false) // exact already
    else if (est.toDouble * GTable.RankingsMaxExpansion < flipRows.toDouble)
      (est, flipRows, false)
    else {
      val exact = df.count()
      (exact, flipRows, exact >= flipRows)
    }
  }

  /** Rankings for LOW-CARDINALITY (keys ++ order) tuples — the shape where
    * even the range-partitioned [[rankings]] over-pays. When the distinct
    * (partition, order) tuple count fits a broadcast, every rank is a pure
    * FUNCTION of the tuple: rank = rows strictly before the tuple,
    * dense rank = tuples strictly before it. So ranking reduces to ONE
    * map-side-combinable groupBy (output: ndv rows), a cumulative pass
    * over that tiny frame, and a broadcast null-safe join back — the
    * payload is scanned once and NEVER shuffled or sorted; cost is
    * O(rows) map-side + O(ndv·log ndv), flat in cluster size where both
    * other strategies sort 100% of the input. rowNumber/ntile are NOT
    * expressible (they depend on row positions within tied tuples, which
    * a tuple function cannot assign); [[rankingsAuto]] only dispatches
    * here when neither is requested and the probed ndv fits
    * `spark.graft.rankings.maxCountsNdv` (default 100k ≈ a few MB
    * broadcast). Returns None when the tuple count exceeds the budget. */
  def rankingsByCounts(partKeys: Seq[String], orderCols: Seq[Column],
                       desc: Seq[Boolean] = Nil,
                       rank: Option[String] = None,
                       denseRank: Option[String] = None,
                       percentRank: Option[String] = None,
                       maxNdv: Long = GTable.RankingsMaxCountsNdv): Option[GTable] = {
    val spark = df.sparkSession
    val dirs = orderCols.indices.map(i => desc.lift(i).getOrElse(false))
    val ordNames = orderCols.indices.map(i => s"_gq_o$i")
    val withOrds = df.withColumns(ordNames.zip(orderCols).toMap)
    val keyCols = partKeys.map(col)
    // overflow-safe limit: maxNdv above Int range must degrade to a
    // fallback-friendly clamp, not an AnalysisException on a negative limit
    val ndvLimit =
      if (maxNdv >= Int.MaxValue.toLong - 1L) Int.MaxValue
      else (maxNdv + 1L).toInt
    // cheap REJECTION pre-probe before the full-scan groupBy (round-9
    // ADVICE): high-NDV order columns — exactly the shape the distributed
    // rankings path exists for — used to pay an entire wasted input pass
    // here before falling back. A bounded input prefix gives a LOWER bound
    // on the tuple NDV: if even the first few×maxNdv rows hold more than
    // maxNdv distinct tuples, the full input certainly does — return None
    // after touching only that prefix (limit-on-scan terminates early).
    // A low-NDV prefix proves nothing (sorted inputs cluster tuples), so
    // the exact probe below still adjudicates; it is then the model build
    // the counts strategy needs anyway.
    if (ndvLimit < Int.MaxValue / 4) {
      val probeRows = ndvLimit.toLong * 4L
      val prefixNdv = withOrds.select((partKeys ++ ordNames).map(col): _*)
        .limit(probeRows.min(Int.MaxValue.toLong).toInt)
        .distinct().limit(ndvLimit).count()
      if (prefixNdv > maxNdv) return None
    }
    val counts = withOrds
      .groupBy((partKeys ++ ordNames).map(col): _*)
      .agg(GTable.cnt.as("_gq_n"))
      .persist()
    try {
      if (counts.limit(ndvLimit).count() > maxNdv) return None
      val ordSorted = ordNames.zip(dirs).map { case (n, d) =>
        if (d) col(n).desc else col(n).asc }
      val wk = Window.partitionBy(keyCols: _*).orderBy(ordSorted: _*)
      val wkAll = Window.partitionBy(keyCols: _*)
      val joinNames = (partKeys ++ ordNames).zipWithIndex.map {
        case (_, i) => s"_gq_j$i" }
      // rank0 = rows strictly before this tuple within the key;
      // dense0 = tuples strictly before it; totals for percent_rank
      val cum = counts
        .withColumn("_gq_r0", coalesce(sum(col("_gq_n")).over(
          wk.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("_gq_d0", row_number().over(wk) - 1)
        .withColumn("_gq_tot", sum(col("_gq_n")).over(wkAll))
        .select((partKeys ++ ordNames).zip(joinNames).map {
          case (a, b) => col(a).as(b) } ++
          Seq(col("_gq_r0"), col("_gq_d0"), col("_gq_tot")): _*)
        // eager tiny materialization: the broadcast must not recompute the
        // counts lineage after the frame below is unpersisted
        .localCheckpoint(true)
      val cond = (partKeys ++ ordNames).zip(joinNames)
        .map { case (a, b) => col(a) <=> col(b) }.reduce(_ && _)
      var out = withOrds.join(broadcast(cum), cond, "inner")
      rank.foreach(a => out = out.withColumn(a, col("_gq_r0").cast("int")))
      denseRank.foreach(a => out = out.withColumn(a, col("_gq_d0").cast("int")))
      percentRank.foreach(a => out = out.withColumn(a,
        when(col("_gq_tot") === 1L, lit(0.0))
          .otherwise(col("_gq_r0").cast("double") / (col("_gq_tot") - 1L))))
      Some(GTable(out.drop(joinNames ++ ordNames ++
        Seq("_gq_r0", "_gq_d0", "_gq_tot", "_gq_n"): _*), denseRid = false))
    } finally counts.unpersist()
  }

  def rankingsAuto(partKeys: Seq[String], orderCols: Seq[Column],
                   desc: Seq[Boolean] = Nil,
                   rowNumber: Option[String] = None, rank: Option[String] = None,
                   denseRank: Option[String] = None,
                   percentRank: Option[String] = None,
                   ntile: Option[(Int, String)] = None): GTable = {
    if (rankingsFlip._3) {
      // above the flip, prefer the broadcast counts strategy when the
      // requested functions allow it and the tuple cardinality fits
      val viaCounts =
        if (rowNumber.isEmpty && ntile.isEmpty)
          rankingsByCounts(partKeys, orderCols, desc, rank, denseRank,
            percentRank, GTable.RankingsMaxCountsNdv)
        else None
      viaCounts.getOrElse(
        rankings(partKeys, orderCols, desc, rowNumber, rank, denseRank,
          percentRank, ntile))
    } else {
      val sortCols = orderCols.zipWithIndex.map { case (c, i) =>
        if (desc.lift(i).getOrElse(false)) c.desc else c.asc }
      val w = graft.functions.GWindows.spec(partKeys.map(col), sortCols)
      var out = this
      rowNumber.foreach(a => out = out.project(a -> graft.functions.GWindows.rowNumber0(w)))
      rank.foreach(a => out = out.project(a -> graft.functions.GWindows.rank0(w)))
      denseRank.foreach(a => out = out.project(a -> graft.functions.GWindows.denseRank0(w)))
      percentRank.foreach(a => out = out.project(a -> graft.functions.GWindows.percentRank(w)))
      ntile.foreach { case (n, a) => out = out.project(a -> graft.functions.GWindows.ntile0(n, w)) }
      out
    }
  }

  /** Re-rank a SPARSE natural row id (after filter/dropNull/distinct — any
    * row-removing, order-preserving op) back into DENSE 0-based positions of
    * the CURRENT table, so dense-position consumers (runsDistributed, the
    * rid range-filter slice fast path) apply to filtered tables too.
    *
    * Rows are bucketed by `oldRid / blockSize` (each bucket holds ≤
    * blockSize surviving rows); the new rid is the bucket's [[BlockScan]]
    * prefix of survivor counts plus the row's offset within its bucket —
    * every stage parallel, no global sort, no driver action. Row order is
    * unchanged: the new rid is a monotone re-numbering of the old one.
    */
  def densify(blockSize: Long = 1L << 20): GTable = {
    if (hasDensePositions) return this
    require(Natural.hasRowId(df),
      s"densify requires the natural row id ${Natural.rid} — load with Tables.loadOrdered")
    val withBlk = df.withColumn("_gq_blk", (rid / blockSize).cast("long"))
    val wBlk = Window.partitionBy(col("_gq_blk")).orderBy(col(Natural.rid))
    val out = BlockScan.exclusive(withBlk, "_gq_blk", GTable.cnt, sum, "_gq_off",
        zero = Some(lit(0L)))
      .withColumn(Natural.rid,
        col("_gq_off") + row_number().over(wBlk).cast("long") - 1L)
      .drop("_gq_blk", "_gq_off")
    GTable(out, sortedBy, denseRid = true)
  }

  def runs(by: Seq[String],
           split: Seq[org.apache.spark.sql.expressions.WindowSpec => Column] = Nil,
           aggs: Seq[Column] = Nil, counts: Option[String] = None): GTable = {
    // With no custom split predicate the serial single-window form and
    // the block-decomposed runsDistributed compute the same thing — so
    // dispatch to the parallel plan (densify() re-ranks a sparse rid and
    // is a no-op on dense tables). Split lambdas are opaque WindowSpec
    // functions (e.g. lag(ts) over w) that cannot be re-expressed as
    // (cur, prev) accessors, so they keep the serial window.
    if (split.isEmpty && Natural.hasRowId(df)) {
      // scale-adaptive block size: aim for ~8 blocks per core so the lag
      // and run-id windows parallelize at small inputs, clamped to
      // [2^16, 2^20] so the per-block boundary/totals frames stay tiny at
      // any corpus size (1e12 rows ⇒ ~1M one-row-per-block entries). The
      // row estimate errs low by the parquet compression ratio, which only
      // shifts granularity, never correctness.
      val p = math.max(1, df.sparkSession.sparkContext.defaultParallelism)
      val blk = math.max(1L << 16,
        math.min(1L << 20, estimatedRows / (p * 8L)))
      return densify(blk).runsDistributed(by, Nil, aggs, counts, blk)
    }
    runsSerial(by, split, aggs, counts)
  }

  private[graft] def runsSerial(by: Seq[String],
           split: Seq[org.apache.spark.sql.expressions.WindowSpec => Column] = Nil,
           aggs: Seq[Column] = Nil, counts: Option[String] = None): GTable = {
    // single-window reference implementation (correct but serial); see
    // runsDistributed for the scale path
    val w = Window.orderBy(rid)
    val changes = by.map(c => !(col(c) <=> lag(col(c), 1).over(w))) ++ split.map(f => f(w))
    val flag = changes.reduceOption(_ || _).getOrElse(lit(false))
    val withRun = df.withColumn("_gq_chg", when(flag, 1L).otherwise(0L))
      .withColumn("_gq_run", sum(col("_gq_chg")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    GTable(GTable.aggRuns(withRun, by, aggs, counts), denseRid = false)
  }
}

object GTable {
  /** Window tasks [[GTable.rankingsFlip]] assumes when it derives the flip
    * threshold (K is unknown before execution; at P = 32 the formula then
    * lands on the measured ~10M-row crossover). */
  private[core] val RankingsAssumedKeys = 4
  /** Upper bound on the parquet row-estimate's error (compressed bytes over
    * uncompressed row width) that [[GTable.rankingsFlip]] resolves with one
    * exact count. */
  private[core] val RankingsMaxExpansion = 8.0
  /** Largest distinct (keys ++ order) tuple count the broadcast-counts
    * rankings arm takes (≈ MB-scale broadcast). */
  private[core] val RankingsMaxCountsNdv = 100000L

  /** `count(*)` as a Column (the class's own count() shadows functions.count). */
  private[core] def cnt: Column = org.apache.spark.sql.functions.count(lit(1))

  /** Final per-run aggregation shared by runs()/runsDistributed().
    *
    * Within a run every `by` column is CONSTANT (any by-change raises the
    * change flag and starts a new run), so exactly-comparable `by`
    * columns join the GROUP KEY instead of riding a min_by aggregate —
    * min_by's struct buffer forced the whole aggregation into
    * SortAggregate (two full sorts around the exchange); with only
    * primitive-buffer aggregates left the plan is a HashAggregate, no
    * sorts (guide §1.2 per-task work). Float/double `by` columns keep the
    * min_by path: grouping normalizes -0.0/NaN, which could alter the
    * emitted value bits. */
  private[core] def aggRuns(withRun: org.apache.spark.sql.DataFrame,
                            by: Seq[String], aggs: Seq[Column],
                            counts: Option[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types._
    // fp must match NormalizeFloatingNumbers' reach: float/double at ANY
    // nesting depth (array<double>, struct with float fields, map keys or
    // values) are normalized (-0.0/NaN) when they ride a group key, so any
    // type transitively containing them stays on the min_by path
    def containsFp(dt: DataType): Boolean = dt match {
      case DoubleType | FloatType => true
      case ArrayType(et, _) => containsFp(et)
      case StructType(fields) => fields.exists(f => containsFp(f.dataType))
      case MapType(kt, vt, _) => containsFp(kt) || containsFp(vt)
      case _ => false
    }
    val fp = by.filter(c => containsFp(withRun.schema(c).dataType)).toSet
    val keyBy = by.filterNot(fp)
    val fpBy = by.filter(fp)
    val firstOfFp = fpBy.map(c => min_by(col(c), col(Natural.rid)).as(c))
    val allAggs = firstOfFp ++ aggs ++ counts.map(n => cnt.as(n)) :+
      min(col(Natural.rid)).as(Natural.rid)
    val grouped = withRun
      .groupBy((col("_gq_run") +: keyBy.map(col)): _*)
      .agg(allAggs.head, allAggs.tail: _*)
    // restore the declared output column order (by columns first); the
    // agg output names are positional: _gq_run, keyBy..., fpBy...,
    // aggs..., counts, rid
    val tailNames = grouped.columns.drop(1 + keyBy.size + fpBy.size)
    grouped.select((by ++ tailNames).map(col): _*).orderBy(col(Natural.rid))
  }

  /** Reference order-key syntax: `-` prefix = descending (core.py:26-28). */
  def orderKeys(keys: Seq[String]): Seq[Column] =
    keys.map(k => if (k.startsWith("-")) col(k.drop(1)).desc else col(k).asc)

}
