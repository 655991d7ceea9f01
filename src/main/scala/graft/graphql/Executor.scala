package graft.graphql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType}
import graft.core.{GTable, Natural, Tables}
import graft.functions.{GAggs, GWindows}
import GVal._

/** GraphQL execution over the engine: each root field is a table
  * (reference's multi-root Query, middleware.py:55-90); every table field
  * is a lazy relational operator returning a new table scope; scalars
  * materialize only at the leaves (reference README.md:107). The resolver
  * fold IS the plan build — Catalyst sees one composed DataFrame per leaf
  * group.
  *
  * Served operator surface (round 2): count, any(limit), type, schema,
  * slice, filter(per-column predicates + where: expression tree), order,
  * group(by, counts, order, full Aggregates surface), distinct, columns
  * (incl. quantile/mode/first/last and the Set leaf), row, project
  * (expression trees incl. string/numeric/temporal/array/window blocks and
  * distributed cumulatives), join, asofJoin, crossJoin, takeFrom, union,
  * intersect, difference, cast, fillNull, dropNull, unpack, first, take,
  * unnest, runs (distributed), window (full block), sql root, optional,
  * toSql, plan, _service{sdl}.
  *
  * Pipeline extension fields (rounds 4-5; engine extension beyond the
  * reference): dedup (exact/normalized), nearDedup (MinHash+LSH pairs →
  * connected components → cluster representatives), dedupAgainst
  * (incremental batch-vs-corpus dedup, exact anti-join or broadcast
  * Bloom screen), decontaminate (benchmark n-gram overlap), split (deterministic md5 shares), sample
  * (stratified keep), mix (weighted mixture resampling), shuffle
  * (md5-keyed range sort), reservoir (per-stratum fixed-size sample),
  * tfidf (keyword extraction), nearest (ANN search — BRUTE broadcast
  * scorer or prebuilt partition-pruned IVF/LSH index probes, round 7).
  */
final class GraphQLService(spark: SparkSession, sfDir: String,
                           names: Seq[String] = Tables.names,
                           keys: Map[String, Seq[String]] = Map.empty,
                           extraRoots: Map[String, String] = Map.empty,
                           rootProjections: Map[String, Seq[(String, String)]] = Map.empty) {

  /** Per-table roots; natural order attached so slice/row work. Memoized —
    * the row-id attach runs a (metadata-only) per-file count job once per
    * table, not once per request. `extraRoots` maps additional root names to
    * parquet paths — e.g. hive-partitioned directories (the reference's
    * FileSystemDataset root; partition pruning and the schema.partitioning
    * leaf come from the scan). `rootProjections` applies a boot-time
    * (alias, source-column) select per root — the reference's COLUMNS
    * startup projection (service.py:26-31): the served schema shows only
    * the aliases, and pruning still reaches the scan because the
    * projection is a plain Catalyst select. */
  private def projected(n: String, t: GTable): GTable =
    rootProjections.get(n).fold(t) { cols =>
      t.project(cols.map { case (alias, src) => alias -> col(src) }: _*)
        .select(cols.map(_._1): _*)
    }
  /** Map-column policy (spark.graft.schema.mapAsJson, default false):
    * GraphQL has no map scalar, and the reference warns-and-drops map
    * fields (tests/test_core.py:39-41) — the parity default. With the flag
    * on, map columns are instead served as JSON string scalars (to_json at
    * the root / sql boundary), so the data stays reachable; reflection,
    * filtering and projection all see a plain String column. */
  private def mapsAsJson: Boolean =
    spark.conf.getOption("spark.graft.schema.mapAsJson").contains("true")

  private def jsonifyMaps(df: DataFrame): DataFrame = {
    val mapCols = df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType] => f.name
    }
    if (mapCols.isEmpty || !mapsAsJson) df
    else mapCols.foldLeft(df)((d, c) => d.withColumn(c, to_json(col(c))))
  }

  private val rootCache = scala.collection.concurrent.TrieMap.empty[String, GTable]
  private val roots: Map[String, () => GTable] =
    names.map(n => n -> (() =>
      rootCache.getOrElseUpdate(n,
        projected(n, GTable(jsonifyMaps(Tables.loadOrdered(spark, sfDir, n))))))).toMap ++
    extraRoots.map { case (n, path) => n -> (() =>
      rootCache.getOrElseUpdate(n,
        projected(n, GTable(jsonifyMaps(Natural.withRowId(spark, path)))))) }

  private lazy val viewsRegistered: Unit =
    (names ++ extraRoots.keys).foreach(n =>
      roots(n)().result.createOrReplaceTempView(n))

  def execute(query: String): String = execute(query, Map.empty[String, GVal])

  def execute(query: String, variables: Map[String, GVal]): String =
    execute(query, variables, None)

  /** Embedded/spec surface: the fully-rendered response string. */
  def execute(query: String, variables: Map[String, GVal],
              operationName: Option[String]): String =
    executeStream(query, variables, operationName).render

  /** Serving surface: the response as a lazily-rendered fragment tree.
    * All Spark work (plans, collects, persist scopes, cap checks) runs
    * EAGERLY here — only the stringification of the already-materialized
    * leaf value arrays is deferred, so the HTTP layer can pump fragments
    * straight into chunked transfer frames with O(chunk) serializer
    * memory and the serve cap's "4xx instead of driver OOM" promise
    * holds end-to-end. */
  def executeStream(query: String, variables: Map[String, GVal],
                    operationName: Option[String]): JsonStream = {
    val doc = Parser.parse(query, variables, operationName)
    val timings = Seq.newBuilder[(String, String)]
    // capture occupancy-cap activations during this request: silent
    // candidate drops (hot-bucket exclusion in the near-dup/ANN tiers)
    // surface as extensions.cap_drops so a serving client can notice
    // recall loss without grepping driver logs
    val (out, capDrops) = graft.operators.Dedup.collectCapDrops(doc.sels.map[(String, JsonStream)] { f =>
      if (f.name == "__typename") {
        // clients (Apollo) inject __typename for cache normalization —
        // it must answer, never error
        f.outName -> Json.quote("Query")
      } else if (f.name == "_service") {
        // federation-style reflection (reference _service{sdl},
        // middleware.py:55-90)
        f.outName -> Json.obj(f.sels.map(s => s.outName -> (s.name match {
          case "sdl" => Json.quote(sdl)
          case other => throw new IllegalArgumentException(s"unknown _service field '$other'")
        })))
      } else if (f.name == "_entities") {
        // federation entity resolution (reference middleware.py:104-141 +
        // tests/test_dataset.py:148-152): each representation names a typed
        // table plus its @key field values; the entity is the table filtered
        // to those keys, served with the (inline-fragment) selection set
        val reps = f.arg("representations").toSeq.flatMap {
          case GList(items) => items.collect { case o: GObj => o }
          case o: GObj => Seq(o)
          case _ => Nil
        }
        val t0 = System.nanoTime()
        val resolved = reps.map { rep =>
          val typename = rep.get("__typename").collect { case GStr(s) => s }
            .getOrElse(throw new IllegalArgumentException("representation needs __typename"))
          val table = names.find(n => SchemaGen.typeName(n) == typename)
            .getOrElse(throw new IllegalArgumentException(s"unknown entity type '$typename'"))
          val preds = rep.v.filterNot(_._1 == "__typename").map { case (k, v) =>
            col(k) === lit(Exprs.scalaOf(v)) }
          // mixed-type batches: only the selections whose fragment type
          // condition matches this representation's type apply to it
          val forType = f.copy(sels = f.sels.filter(_.appliesTo(typename)))
          resolveTable(roots(table)().filter(preds: _*), forType, None)
        }
        timings += (f.outName -> ((System.nanoTime() - t0) / 1e6).round.toString)
        f.outName -> JsonStream.arr(resolved)
      } else if (f.name == "sql") {
        // SQL escape hatch as a root field: every table is a view
        // (reference supports raw SQL through its engine; §2.11)
        val q = f.arg("query").collect { case GStr(s) => s }
          .getOrElse(throw new IllegalArgumentException("sql needs query:"))
        viewsRegistered
        val t0 = System.nanoTime()
        val r = f.outName -> resolveTable(GTable(jsonifyMaps(spark.sql(q))), f, Some(q))
        timings += (f.outName -> ((System.nanoTime() - t0) / 1e6).round.toString)
        r
      } else {
        val root = roots.getOrElse(f.name,
          throw new IllegalArgumentException(s"unknown table '${f.name}'"))
        val t0 = System.nanoTime()
        // file-narrowing fast path only for unprojected hive roots: a
        // boot-time projection changes the served schema, which the raw
        // fragment read would bypass
        val r = f.outName -> resolveTable(root(), f,
          Some(s"SELECT * FROM ${f.name}"),
          extraRoots.get(f.name).filterNot(_ => rootProjections.contains(f.name)))
        timings += (f.outName -> ((System.nanoTime() - t0) / 1e6).round.toString)
        r
      }
    })
    val capJson =
      if (capDrops.forall(d => d.buckets == 0 && d.rows == 0)) Seq.empty
      else Seq("cap_drops" -> Json.obj(
        capDrops.groupBy(_.op).toSeq.sortBy(_._1).map { case (op, ds) =>
          op -> Json.obj(Seq(
            "buckets" -> ds.map(_.buckets).sum.toString,
            "rows" -> ds.map(_.rows).sum.toString))
        }))
    // per-root resolver durations (reference's Apollo-tracing-style metrics,
    // middleware.py:22-38)
    JsonStream.obj(Seq(
      "data" -> JsonStream.obj(out),
      "extensions" -> JsonStream.Frag(Json.obj(
        Seq("timing_ms" -> Json.obj(timings.result())) ++ capJson))))
  }

  /** SDL reflection (reference `_service { sdl }`); tables with configured
    * federation keys carry `@key(fields: ...)` directives. Built from the
    * ACTUAL served roots (including extra roots and boot-time projections),
    * with the internal natural-order row id hidden. */
  def sdl: String = SchemaGen.sdlOf(
    (names ++ extraRoots.keys).map { n =>
      n -> org.apache.spark.sql.types.StructType(
        roots(n)().df.schema.filterNot(_.name == Natural.rid))
    }, keys)

  /** Where this service's prebuilt ANN indexes live (GRAFT_ANN_DIR for a
    * durable deployment location; else a per-process temp dir). Lazy — a
    * service that never serves `nearest` creates nothing. */
  private lazy val annIndexDir: String =
    sys.env.getOrElse("GRAFT_ANN_DIR",
      java.nio.file.Files.createTempDirectory("graft_gql_ann").toString)

  /** The resolved index dir, for lifecycle probes/specs that census the
    * on-disk tree count alongside [[indexGc]]. */
  private[graft] def indexDir: String = annIndexDir

  /** Sweep orphaned prebuilt-index trees of EVERY family (text posting,
    * MinHash, IVF, LSH) under this service's index dir (round-12 verdict
    * #2): trees not referenced by a live cache entry and older than
    * `graceMs` are deleted. The caches are LRU-bounded, so eviction shrinks
    * the live set and this sweep bounds the service's DISK footprint
    * alongside its heap — a long-lived deployment fielding many distinct
    * filtered `search(k:)` plans retires one tree per evicted plan instead
    * of stranding them forever. Scheduled by ServiceMain
    * (GRAFT_INDEX_GC_PERIOD_MS); safe at any time — a swept-then-
    * re-requested index rebuilds on its next request, and `graceMs` keeps
    * trees another JVM just built from being swept mid-use. Returns the
    * deleted tree paths. */
  def indexGc(graceMs: Long = 3600000L): Seq[String] =
    graft.operators.TextSearch.textIndexGc(spark, annIndexDir, graceMs) ++
      graft.operators.Similarity.annIndexGc(spark, annIndexDir, graceMs) ++
      graft.operators.Dedup.minhashIndexGc(spark, annIndexDir, graceMs)

  /** Corpus identity for the index cache: the canonicalized logical plan
    * (source files + every filter/projection applied on the way to this
    * scope — two different pipelines over the same files must not share an
    * index). Content freshness is handled inside ivfIndexFor/lshIndexFor by
    * the file fingerprint. */
  private def corpusKeyOf(corpus: DataFrame): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(corpus.queryExecution.analyzed.canonicalized.toString
        .getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  // ─── resolvers ───

  private def resolveTable(t: GTable, field: GField,
                           sql: Option[String],
                           rootPath: Option[String] = None): JsonStream = {
    // §4 persist policy: >1 materializing sibling → persist the shared plan
    val consumers = field.sels.count(f =>
      !Set("type", "schema", "toSql").contains(f.name))
    val persisted = consumers > 1
    if (persisted) t.df.persist()
    try JsonStream.obj(field.sels.map(f => f.outName -> resolveField(t, f, sql, rootPath)))
    finally if (persisted) { t.df.unpersist(); () }
  }

  /** Partitioned-dataset file narrowing for order/first directly on a hive
    * root (reference interface.py:260-262/287-291 + core.py:81-99): when
    * the sort keys start with partition keys, select the minimal fragment
    * set from footer metadata and read only those files. The exact
    * operator still runs after the narrowing (the selection is a proven
    * superset — see ParquetMeta.orderedFiles/firstFiles), so results are
    * identical; only the planned file set shrinks. */
  private def narrowedRoot(rootPath: Option[String], by: Seq[String],
                           over: Seq[String])(
                           files: (String, Seq[String]) => Seq[String]): Option[GTable] =
    rootPath.filter(_ => over.isEmpty && by.nonEmpty).flatMap { p =>
      val keys = graft.sources.ParquetMeta.keyPrefix(spark, p, by)
      if (keys.isEmpty) None
      // the narrowed frame re-attaches the root's natural row ids (offsets
      // restricted to the selected files), so unsorted serving after the
      // exact operator — slice/row, per-column collection — keeps the
      // natural-order contract the rid-carrying root gave it
      else Some(GTable(graft.core.Natural.withRowIdFiles(spark, p, files(p, keys)),
        denseRid = false))
    }

  private def resolveField(t: GTable, f: GField, sql: Option[String],
                           rootPath: Option[String] = None): JsonStream = f.name match {
    // Apollo-style clients inject __typename everywhere; answering the
    // generic table type keeps them working (per-table names appear in the
    // SDL; the operator fold preserves the table type in the reference too)
    case "__typename" => Json.quote("Table")
    case "count" => t.count().toString
    case "any" => t.any(intArg(f, "limit").getOrElse(1)).toString
    case "type" => Json.quote("ParquetSource")
    case "schema" => resolveSchema(t, f)
    case "toSql" =>
      // SQL reflection (reference toSql, interface.py:109-115): the SQL text
      // accumulated along the operator fold; null after a non-SQL op
      Json.quote(sql.getOrElse(
        throw new IllegalArgumentException("toSql: not SQL-expressible after this operator")))
    case "explain" =>
      // plan reflection for operators tuning a 100 TB query: the Catalyst
      // plan of the table at this point in the fold (PushedFilters,
      // ReadSchema, exchanges, codegen spans). mode: simple | extended |
      // formatted | cost (Spark's ExplainMode names; default formatted)
      val mode = strArg(f, "mode").getOrElse("formatted")
      require(Set("simple", "extended", "formatted", "cost", "codegen")
        .contains(mode), s"explain mode: unknown \"$mode\"")
      Json.quote(t.result.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString(mode)))
    case "slice" =>
      val off = longArg(f, "offset").getOrElse(0L)
      val lim = longArg(f, "limit")
      resolveTable(t.slice(off, lim), f,
        sql.map(q => s"SELECT * FROM ($q) LIMIT ${lim.getOrElse(Long.MaxValue)} OFFSET $off"))
    case "filter" =>
      resolveTable(t.filter(filterPreds(t, f): _*), f,
        filterPredsSql(f) match {
          case Some(preds) => sql.map(q => s"SELECT * FROM ($q) WHERE ${preds.mkString(" AND ")}")
          case None => None
        })
    case "order" =>
      val by = strListArg(f, "by")
      val lim = intArg(f, "limit")
      val over = strListArg(f, "over")
      val bySql = by.map(k => if (k.startsWith("-")) s"${k.drop(1)} DESC" else s"$k ASC")
      val base = (if (lim.isDefined)
        narrowedRoot(rootPath, by, over)((p, keys) =>
          graft.sources.ParquetMeta.orderedFiles(spark, p, keys, lim.map(_.toLong)))
        else None).getOrElse(t)
      resolveTable(base.order(GTable.orderKeys(by), lim, over), f,
        sql.map(q => s"SELECT * FROM ($q) ORDER BY ${bySql.mkString(", ")}" +
          lim.fold("")(k => s" LIMIT $k")))
    case "group" => resolveGroup(t, f, sql)
    case "distinct" =>
      val on = strListArg(f, "on")
      // keep: null = drop order information entirely (reference keep=None)
      val keep = f.arg("keep").map {
        case GEnum(k) => k; case GStr(k) => k; case GNull => "none"
        case other => throw new IllegalArgumentException(s"keep: $other")
      }.getOrElse("first")
      val distinctT = t.distinctOn(on, keep, f.arg("counts").collect { case GStr(c) => c })
      // order: names a first-seen position column (reference test_service
      // distinct(on:, order: "idx") → int64 column)
      val out = f.arg("order").collect { case GStr(o) if o.nonEmpty => o } match {
        case Some(n) if Natural.hasRowId(distinctT.df) =>
          GTable(distinctT.df.withColumn(n, col(Natural.rid))
            .orderBy(col(Natural.rid)), denseRid = false)
        case _ => distinctT
      }
      resolveTable(out, f, None)
    case "columns" => resolveColumns(t, f)
    case "column" =>
      // column(name: [..], cast:, try:, index: [..]): any column by (nested)
      // name / array offset, optionally cast — served as a Column object
      // (reference interface.py:165-176)
      val nameParts = strListArg(f, "name")
      require(nameParts.nonEmpty, "column needs name:")
      val idx = f.arg("index").toSeq.flatMap {
        case GList(items) => items.collect { case GInt(i) => i }
        case GInt(i) => Seq(i)
        case _ => Nil
      }
      val base = nameParts.tail.foldLeft(col(nameParts.head))(_.getField(_))
      val indexed = idx.foldLeft(base)((c, i) =>
        if (i >= 0) element_at(c, i.toInt + 1) else element_at(c, i.toInt))
      val castTo = f.arg("cast").collect { case GStr(s) if s.nonEmpty => s }
      val tryCast = f.arg("try").collect { case GBool(b) => b }.getOrElse(false)
      val outCol = castTo.fold(indexed)(ddl =>
        if (tryCast) indexed.try_cast(DataType.fromDDL(ddl).sql)
        else indexed.cast(DataType.fromDDL(ddl)))
      val alias = f.outName
      val keep = if (Natural.hasRowId(t.df))
        Seq(outCol.as(alias), col(Natural.rid)) else Seq(outCol.as(alias))
      columnsOn(GTable(t.df.select(keep: _*), t.sortedBy, t.denseRid),
        Seq(f.copy(name = alias, alias = None))).head
    case "row" => resolveRow(t, f, longArg(f, "index").getOrElse(0L))
    case "project" => resolveProject(t, f, sql)
    case "cast" =>
      // cast(schema: {name, type} | [..], try: bool) — `columns` accepted as
      // an alias for the arg name (reference interface.py:129-136 `schema`)
      val tryMode = f.arg("try").collect { case GBool(b) => b }.getOrElse(false)
      val types = (f.arg("schema").toSeq ++ f.arg("columns").toSeq).flatMap {
        case GList(items) => items.collect { case o: GObj => o }
        case o: GObj => Seq(o)
        case _ => Nil
      }.map { o =>
        val nm = o.get("name").collect { case GStr(n) => n }
          .getOrElse(throw new IllegalArgumentException("cast needs name"))
        val ty = o.get("type").collect { case GStr(s) => s; case GEnum(s) => s }
          .getOrElse(throw new IllegalArgumentException("cast needs type"))
        nm -> DataType.fromDDL(ty)
      }
      resolveTable(t.cast(types, tryMode), f,
        sql.map { q =>
          val casts = types.map { case (n, dt) =>
            val fn = if (tryMode) "TRY_CAST" else "CAST"
            s"$fn($n AS ${dt.sql}) AS $n" }
          val keep = t.result.columns.filterNot(c => types.exists(_._1 == c))
          s"SELECT ${(keep ++ casts).mkString(", ")} FROM ($q)"
        })
    case "fillNull" =>
      // fillNull(values: {col: value, ...}) or the reference's
      // fillNull(name: [cols], value: v) form (interface.py:442-453,
      // tests/test_models.py fillNull)
      val values = f.arg("values").collect { case GObj(pairs) =>
        pairs.map { case (k, v) => k -> Exprs.scalaOf(v) }.toMap
      }.orElse {
        f.arg("value").map(Exprs.scalaOf).map(v =>
          strListArg(f, "name").map(_ -> v).toMap)
      }.getOrElse(throw new IllegalArgumentException("fillNull needs values: or name:/value:"))
      resolveTable(t.fillNull(values), f, None)
    case "dropNull" =>
      resolveTable(t.dropNull(strListArg(f, "on"),
        f.arg("how").collect { case GStr(h) => h; case GEnum(h) => h }.getOrElse("any")),
        f, None)
    case "unpack" =>
      resolveTable(t.unpack(strListArg(f, "names"): _*), f, None)
    case "join" =>
      val rightName = f.arg("right").collect { case GStr(r) => r }
        .getOrElse(throw new IllegalArgumentException("join needs right:"))
      val right = roots.getOrElse(rightName,
        throw new IllegalArgumentException(s"unknown table '$rightName'"))
      val how = f.arg("how").collect { case GStr(h) => h; case GEnum(h) => h }
        .getOrElse("inner")
      val keys = strListArg(f, "keys")
      val rkeys0 = strListArg(f, "rkeys")
      val rkeys = if (rkeys0.isEmpty) keys else rkeys0
      val howSql = Map("inner" -> "JOIN", "left" -> "LEFT JOIN",
        "right" -> "RIGHT JOIN", "full" -> "FULL OUTER JOIN")
      val joinSql = sql.flatMap(q => howSql.get(how).map { hs =>
        val cond = keys.zip(rkeys).map { case (k, rk) => s"l.$k = r.$rk" }.mkString(" AND ")
        s"SELECT * FROM ($q) l $hs (SELECT * FROM $rightName) r ON $cond"
      })
      resolveTable(t.join(right(), keys, rkeys0, how), f, joinSql)
    case "crossJoin" =>
      val rightName = f.arg("right").collect { case GStr(r) => r }
        .getOrElse(throw new IllegalArgumentException("crossJoin needs right:"))
      val right = roots.getOrElse(rightName,
        throw new IllegalArgumentException(s"unknown table '$rightName'"))
      resolveTable(t.crossJoin(right()), f,
        sql.map(q => s"SELECT * FROM ($q) CROSS JOIN (SELECT * FROM $rightName)"))
    case "union" | "intersect" | "difference" =>
      // multiset union, set intersect/difference by default
      // (reference interface.py:397-422)
      val others = strListArg(f, "right").map(n => roots.getOrElse(n,
        throw new IllegalArgumentException(s"unknown table '$n'"))())
      val distinct = f.arg("distinct").collect { case GBool(b) => b }
      val out = f.name match {
        case "union" => t.union(others, distinct.getOrElse(false))
        case "intersect" => t.intersect(others, distinct.getOrElse(true))
        case _ => t.difference(others, distinct.getOrElse(true))
      }
      resolveTable(out, f, None)
    case "takeFrom" =>
      // takeFrom(right: table, field: intColumn): this table's column values
      // are natural-order row indices into `right` (reference models.py:215-221)
      val rightName = f.arg("right").collect { case GStr(r) => r }
        .getOrElse(throw new IllegalArgumentException("takeFrom needs right:"))
      val right = roots.getOrElse(rightName,
        throw new IllegalArgumentException(s"unknown table '$rightName'"))
      val fieldName = f.arg("field").collect { case GStr(s) => s }
        .getOrElse(throw new IllegalArgumentException("takeFrom needs field:"))
      resolveTable(t.takeFrom(fieldName, right()), f, None)
    case "asofJoin" =>
      val rightName = f.arg("right").collect { case GStr(r) => r }
        .getOrElse(throw new IllegalArgumentException("asofJoin needs right:"))
      val right = roots.getOrElse(rightName,
        throw new IllegalArgumentException(s"unknown table '$rightName'"))
      val on = f.arg("on").collect { case GStr(o) => o }
        .getOrElse(throw new IllegalArgumentException("asofJoin needs on:"))
      val rOn = f.arg("rOn").collect { case GStr(o) => o }.getOrElse("")
      // tolerance: ISO-8601 duration — matches only within l.on - r.on ≤ it
      // (reference asof_join tolerance, interface.py:364-383)
      val tol = f.arg("tolerance").collect { case GStr(iso) =>
        val d = java.time.Duration.parse(iso)
        val micros = d.getSeconds * 1000000L + d.getNano / 1000L
        (lt: Column, rt: Column) =>
          unix_micros(lt.cast("timestamp")) - unix_micros(rt.cast("timestamp")) <= micros
      }
      resolveTable(t.asofJoin(right(), on, rOn,
        strListArg(f, "keys"), strListArg(f, "rkeys"), tolerance = tol), f, None)
    case "first" =>
      val by = strListArg(f, "by")
      val rank = intArg(f, "rank").getOrElse(1)
      val dense = f.arg("dense").collect { case GBool(b) => b }.getOrElse(false)
      val over = strListArg(f, "over")
      // narrowing by the key PREFIX is a superset of the full-key rank
      // filter: prefix groups are coarser, so prefix-rank ≤ full-rank
      val base = narrowedRoot(rootPath, by, over)((p, keys) =>
        graft.sources.ParquetMeta.firstFiles(spark, p, keys, rank.toLong, dense))
        .getOrElse(t)
      resolveTable(base.firstRank(by, rank, dense, over), f, None)
    case "take" =>
      val idx = f.arg("indices").toSeq.flatMap {
        case GList(items) => items.collect { case GInt(i) => i }
        case _ => Nil
      }
      resolveTable(t.take(idx), f, None)
    case "unnest" =>
      val name = f.arg("name").collect { case GStr(n) => n }
        .getOrElse(throw new IllegalArgumentException("unnest needs name:"))
      // order: adds the element offset column AND sorts by it (reference
      // test_service unnest(order: "idx"))
      val orderAlias = f.arg("order").collect { case GStr(o) if o.nonEmpty => o }
      val offsetAlias = f.arg("offset").collect { case GStr(o) => o }.orElse(orderAlias)
      val un = t.unnest(name, offsetAlias,
        f.arg("keep_empty").collect { case GBool(b) => b }.getOrElse(false))
      val out = orderAlias.fold(un)(o =>
        GTable(un.df.orderBy(col(o)), sortedBy = Seq(col(o).asc), denseRid = false))
      resolveTable(out, f, None)
    case "runs" =>
      // runs(by:, split: [{window: {op: {name}}}], aggregate:, counts:,
      // order:) — reference interface.py:471-489. Served path is ALWAYS the
      // distributed variant (block prefix-sum run ids, never a global
      // single-partition window); a filtered table has sparse rids
      // (adjacency ≠ rid+1) and is first re-densified (GTable.densify, the
      // same block prefix-sum machinery) so filter → runs scales like the
      // pre-filter form instead of a one-task Window.orderBy(rid) sort.
      // Only a table with NO row id at all (post-join/group) takes the
      // rid-ordered window fallback.
      val counts = f.arg("counts").collect { case GStr(c) => c }
      val by = strListArg(f, "by")
      val aggs = aggregatesOf(t, f)
      val splits = f.arg("split").toSeq.flatMap {
        case GList(xs) => xs
        case o: GObj => Seq(o)
        case _ => Nil
      }.collect { case o: GObj =>
        o.get("window") match {
          case Some(GObj(wf)) =>
            val (ops, _) = wf.partition { case (k, _) =>
              !Set("over", "by", "offset", "default").contains(k) }
            val (op, arg) = ops.headOption
              .getOrElse(throw new IllegalArgumentException("split window needs an op"))
            val nm = arg match {
              case GObj(Seq(("name", GStr(n)))) => n
              case GStr(n) => n
              case other => throw new IllegalArgumentException(s"split operand $other")
            }
            (op, nm)
          case _ => throw new IllegalArgumentException("split expects {window: {...}}")
        }
      }
      def cmp(op: String): (Column, Column) => Column = op match {
        case "eq" => _ === _; case "ne" => _ =!= _
        case "lt" => _ < _; case "le" => _ <= _
        case "gt" => _ > _; case "ge" => _ >= _
        case other => throw new IllegalArgumentException(s"split op '$other'")
      }
      val ran =
        if (Natural.hasRowId(t.df))
          t.densify().runsDistributed(by,
            splits.map { case (op, nm) =>
              (cur: String => Column, prev: String => Column) => cmp(op)(cur(nm), prev(nm)) },
            aggs, counts)
        else t.runs(by,
          splits.map { case (op, nm) =>
            (w: org.apache.spark.sql.expressions.WindowSpec) =>
              cmp(op)(col(nm), lag(col(nm), 1).over(w)) },
          aggs, counts)
      // order: names the first-seen position column of each run
      val out = f.arg("order").collect { case GStr(o) if o.nonEmpty => o } match {
        case Some(n) if Natural.hasRowId(ran.df) => ran.project(n -> col(Natural.rid))
        case _ => ran
      }
      resolveTable(out, f, None)
    case "window" => resolveWindow(t, f)

    // ─── training-data pipeline extension fields (engine extension; the
    //     reference has no pipeline surface — COVERAGE.md "beyond the
    //     reference"). Each composes like any other table field. ───
    case "dedup" =>
      // exact (or normalization-class) text dedup: the table filtered to
      // one representative (min id) per text class — semi-join against the
      // narrow representative frame, text never rides a shuffle twice
      val on = strArg(f, "on")
        .getOrElse(throw new IllegalArgumentException("dedup needs on: <text column>"))
      val id = strArg(f, "id")
        .getOrElse(throw new IllegalArgumentException("dedup needs id: <key column>"))
      val normalize = f.arg("normalize").map {
        case GBool(b) => b
        case other => throw new IllegalArgumentException(
          s"dedup normalize: must be a boolean, got $other")
      }.getOrElse(false)
      // join on (text-class hash, id), not id alone: with duplicate ids a
      // row must be the representative of its OWN text class to survive —
      // an id-only semi-join would also keep rows that merely share an id
      // with some other class's representative
      val reps = graft.operators.Dedup.exactReps(t.result, on, id, normalize)
      val keyed = t.df.withColumn("_gq_h",
        graft.operators.Dedup.classKey(col(on), normalize))
      // sortedBy dropped: a semi-join against the (non-broadcastable at
      // corpus scale) representative frame may execute as a sort-merge join
      // and re-sort by the join key — claiming the old order would let
      // column serving skip the re-sort and emit join-key order silently
      resolveTable(GTable(keyed.join(
          reps.withColumnRenamed("_h", "_gq_h"), Seq("_gq_h", id), "left_semi")
        .drop("_gq_h"), denseRid = false), f, None)
    case "decontaminate" =>
      // drop documents sharing >= minHits distinct n-grams with the named
      // benchmark root (optionally pre-filtered by benchmarkWhere:, the
      // same expression tree filter(where:) takes)
      val benchName = strArg(f, "benchmark")
        .getOrElse(throw new IllegalArgumentException("decontaminate needs benchmark: <table>"))
      val on = strArg(f, "on")
        .getOrElse(throw new IllegalArgumentException("decontaminate needs on: <text column>"))
      val id = strArg(f, "id")
        .getOrElse(throw new IllegalArgumentException("decontaminate needs id: <key column>"))
      val benchRoot = roots.getOrElse(benchName,
        throw new IllegalArgumentException(s"unknown table '$benchName'"))().result
      val bench = f.arg("benchmarkWhere")
        .map(w => benchRoot.filter(Exprs.compile(w))).getOrElse(benchRoot)
      val bad = graft.operators.Dedup.decontaminate(t.result, bench, on, id,
          intArg(f, "n").getOrElse(5), intArg(f, "minHits").getOrElse(1))
        .select(col("id").as(id))
      // sortedBy dropped for the same sort-merge-join reason as dedup
      resolveTable(GTable(t.df.join(bad, Seq(id), "left_anti"),
        denseRid = false), f, None)
    case "dedupAgainst" =>
      // incremental ingestion dedup: keep rows of THIS table (the new
      // batch) whose text class is unseen in the named corpus root, then
      // dedup within the batch (min id per class). method: "exact" is the
      // narrow hash anti-join; "bloom" broadcasts a Bloom filter of the
      // corpus instead (expectedItems required) — join-free screening with
      // no false negatives and <=fpp over-drop
      val corpusName = strArg(f, "corpus")
        .getOrElse(throw new IllegalArgumentException("dedupAgainst needs corpus: <table>"))
      val on = strArg(f, "on")
        .getOrElse(throw new IllegalArgumentException("dedupAgainst needs on: <text column>"))
      val id = strArg(f, "id")
        .getOrElse(throw new IllegalArgumentException("dedupAgainst needs id: <key column>"))
      val normalize = f.arg("normalize").collect { case GBool(b) => b }.getOrElse(false)
      val corpusRoot = roots.getOrElse(corpusName,
        throw new IllegalArgumentException(s"unknown table '$corpusName'"))().result
      val corpus = f.arg("corpusWhere")
        .map(w => corpusRoot.filter(Exprs.compile(w))).getOrElse(corpusRoot)
      val keyed = t.df.withColumn("_gq_h",
        graft.operators.Dedup.classKey(col(on), normalize))
      val unseen = strArg(f, "method").getOrElse("exact") match {
        case "exact" =>
          val seen = corpus.select(graft.operators.Dedup
            .classKey(col(on), normalize).as("_gq_h")).distinct()
          keyed.join(seen, Seq("_gq_h"), "left_anti")
        case "bloom" =>
          val items = longArg(f, "expectedItems").getOrElse(
            throw new IllegalArgumentException("dedupAgainst method: \"bloom\" needs expectedItems:"))
          val fpp = f.arg("fpp").collect {
            case GFloat(d) => d
            case GInt(i) => i.toDouble
          }.getOrElse(0.01)
          val hashes = corpus.select(graft.operators.Dedup
            .classKey(col(on), normalize).as("_h"))
          if (hashes.isEmpty) keyed
          else {
            val bf = hashes.stat.bloomFilter("_h", items, fpp)
            // native codegen'd membership (same expression as
            // Dedup.incrementalBloom) — not a Scala UDF, so the served
            // screen stays inside whole-stage codegen like the library path
            keyed.filter(!graft.expressions.BloomFunctions
              .mightContainLong(spark, bf, col("_gq_h")))
          }
        case "minhash" =>
          // near-dup incremental ingestion: survivors have no MinHash+LSH
          // near-duplicate in the corpus — served off a PREBUILT band
          // index (minhashIndexFor: first request builds, every later
          // request probes; content-fingerprinted like the ANN tier).
          // hash: "md5" swaps in oracle-reproducible permutations.
          val threshold = f.arg("threshold").collect {
            case GFloat(d) => d
            case GInt(i) => i.toDouble
          }.getOrElse(0.7)
          val md5 = strArg(f, "hash").contains("md5")
          val (n, k, bands) = (intArg(f, "n").getOrElse(3),
            intArg(f, "k").getOrElse(if (md5) 32 else 64),
            intArg(f, "bands").getOrElse(if (md5) 8 else 16))
          val idx = graft.operators.Dedup.minhashIndexFor(corpus,
            corpusKeyOf(corpus), on, id, annIndexDir, n, k, bands, md5,
            slots = intArg(f, "slots").getOrElse(8))
          graft.operators.Dedup.minhashDedupFilter(idx, keyed.drop("_gq_h"),
              threshold)
            .withColumn("_gq_h",
              graft.operators.Dedup.classKey(col(on), normalize))
        case other => throw new IllegalArgumentException(
          s"""dedupAgainst method: must be "exact", "bloom" or "minhash", got "$other"""")
      }
      // batch-internal dedup joins on (class hash, id) — duplicate-id safe
      // like the dedup field
      val reps = unseen.groupBy(col("_gq_h")).agg(min(col(id)).as(id))
      resolveTable(GTable(
        unseen.join(reps, Seq("_gq_h", id), "left_semi").drop("_gq_h"),
        denseRid = false), f, None)
    case "split" =>
      // deterministic named split column from integer shares
      val key = strArg(f, "on")
        .getOrElse(throw new IllegalArgumentException("split needs on: <key column>"))
      val alias = strArg(f, "alias").getOrElse("split")
      val shares = f.arg("shares").collect { case GObj(pairs) =>
        pairs.map {
          case (k, GInt(w)) => k -> w.toInt
          case (k, other) => throw new IllegalArgumentException(
            s"split share '$k' must be an integer, got $other")
        }
      }.getOrElse(throw new IllegalArgumentException("split needs shares: {name: weight, ...}"))
      resolveTable(t.project(alias -> graft.operators.Sampling.split(col(key), shares)),
        f, None)
    case "sample" =>
      // per-stratum deterministic downsampling (codegen'd predicate)
      val key = strArg(f, "on")
        .getOrElse(throw new IllegalArgumentException("sample needs on: <key column>"))
      val strata = strArg(f, "strata")
        .getOrElse(throw new IllegalArgumentException("sample needs strata: <column>"))
      resolveTable(t.filter(graft.operators.Sampling.stratifiedKeep(
        col(strata), col(key), fractionMap(f, "fractions"),
        doubleArg(f, "default").getOrElse(1.0))), f, None)
    case "mix" =>
      // deterministic mixture resampling; row multiplicity duplicates ids,
      // so the natural row id is dropped (position ops invalid downstream)
      val key = strArg(f, "on")
        .getOrElse(throw new IllegalArgumentException("mix needs on: <key column>"))
      val strata = strArg(f, "strata")
        .getOrElse(throw new IllegalArgumentException("mix needs strata: <column>"))
      resolveTable(GTable(graft.operators.Sampling.mixWeighted(t.result,
        col(strata), col(key), fractionMap(f, "weights"),
        doubleArg(f, "default").getOrElse(1.0))), f, None)
    case "dedupSpans" =>
      // C4-style span-level dedup: rewrites the text column to the
      // surviving spans (schema: id + text), so downstream fields see the
      // scrubbed corpus
      val on = strArg(f, "on")
        .getOrElse(throw new IllegalArgumentException("dedupSpans needs on: <text column>"))
      val id = strArg(f, "id")
        .getOrElse(throw new IllegalArgumentException("dedupSpans needs id: <key column>"))
      val span = intArg(f, "span").getOrElse(10)
      resolveTable(GTable(graft.operators.Dedup.dedupSpans(
        t.result, on, id, span)), f, None)
    case "dedupSubstrings" =>
      // exact-substring dedup (overlapping windows — any duplicated run of
      // >= window tokens keeps only its first occurrence corpus-wide);
      // rewrites the text column to the surviving tokens
      val on = strArg(f, "on")
        .getOrElse(throw new IllegalArgumentException("dedupSubstrings needs on: <text column>"))
      val id = strArg(f, "id")
        .getOrElse(throw new IllegalArgumentException("dedupSubstrings needs id: <key column>"))
      val window = intArg(f, "window").getOrElse(50)
      resolveTable(GTable(graft.operators.Dedup.dedupSubstrings(
        t.result, on, id, window)), f, None)
    case "reservoir" =>
      // deterministic per-stratum fixed-size sample (distributed rankings
      // path; no single-task-per-stratum window)
      val key = strArg(f, "on")
        .getOrElse(throw new IllegalArgumentException("reservoir needs on: <key column>"))
      val strata = strListArg(f, "strata")
      if (strata.isEmpty)
        throw new IllegalArgumentException("reservoir needs strata: [columns]")
      val k = intArg(f, "k")
        .getOrElse(throw new IllegalArgumentException("reservoir needs k:"))
      val seed = seedArg(f)
      resolveTable(GTable(graft.operators.Sampling.reservoirK(
        GTable(t.result), strata, col(key), k, seed), denseRid = false), f, None)
    case "nearDedup" =>
      // MinHash+LSH near-duplicate removal end-to-end: banded candidate
      // pairs → connected components → only each cluster's smallest id
      // survives. hash: "md5" swaps the fused xxhash64 sketch for the
      // md5-derived permutations so the WHOLE pipeline is reproducible in
      // an external SQL oracle (q_gql_near_dedup); production uses the
      // default fused sketch
      val on = strArg(f, "on")
        .getOrElse(throw new IllegalArgumentException("nearDedup needs on: <text column>"))
      val id = strArg(f, "id")
        .getOrElse(throw new IllegalArgumentException("nearDedup needs id: <key column>"))
      val n = intArg(f, "n").getOrElse(3)
      val k = intArg(f, "k").getOrElse(64)
      val bands = intArg(f, "bands").getOrElse(16)
      val threshold = f.arg("threshold").map {
        case GFloat(d) => d
        case GInt(i) => i.toDouble
        case other => throw new IllegalArgumentException(
          s"nearDedup threshold: must be a number, got $other")
      }.getOrElse(0.5)
      val maxBucket = intArg(f, "maxBucket")
        .getOrElse(graft.operators.Dedup.DefaultMaxBucket)
      val md5 = strArg(f, "hash").getOrElse("xx") match {
        case "md5" => true
        case "xx" => false
        case other => throw new IllegalArgumentException(
          s"nearDedup hash: must be \"xx\" or \"md5\", got \"$other\"")
      }
      val pairs = graft.operators.Dedup.minhashPairs(
        t.result, on, id, n, k, bands, threshold, maxBucket, md5)
      resolveTable(GTable(graft.operators.Dedup.keepRepresentatives(
        t.df, pairs, id), denseRid = false), f, None)
    case "semanticDedup" =>
      // SemDeDup-style embedding dedup served through the table type:
      // within-k-means-cell cosine pairs → connected components → each
      // component's smallest id survives (Similarity.semanticDedup).
      // kmeansIters: 0 (the default) keeps the deterministic id-ordered
      // sample centroids so the result is externally reproducible
      // (q_gql_dedup_semantic); > 0 adds Lloyd refinement
      val on = strArg(f, "on")
        .getOrElse(throw new IllegalArgumentException("semanticDedup needs on: <vector column>"))
      val id = strArg(f, "id")
        .getOrElse(throw new IllegalArgumentException("semanticDedup needs id: <key column>"))
      val threshold = f.arg("threshold").map {
        case GFloat(d) => d
        case GInt(i) => i.toDouble
        case other => throw new IllegalArgumentException(
          s"semanticDedup threshold: must be a number, got $other")
      }.getOrElse(0.9)
      val nlist = intArg(f, "nlist").getOrElse(64)
      val kmeansIters = intArg(f, "kmeansIters").getOrElse(0)
      val maxCell = intArg(f, "maxCell")
        .getOrElse(graft.operators.Dedup.DefaultMaxBucket)
      resolveTable(GTable(graft.operators.Similarity.semanticDedup(
        t.result, id, on, threshold, nlist, kmeansIters, maxCell),
        denseRid = false), f, None)
    case "nearest" =>
      // approximate-nearest-neighbor search served through the table type:
      // queries are corpus rows selected by ids:, OR one external
      // embedding passed as vector: (the serving-tier shape — the query
      // arrives as a model output, not a corpus row; served under a NULL
      // query_id, which cannot equal any corpus id — no reserved-value
      // collision, no per-request corpus validation). Dispatched to
      // the exact broadcast scorer (BRUTE) or to the build-once/
      // probe-many prebuilt index tier (IVF / LSH — ivfIndexFor/
      // lshIndexFor cache per corpus content fingerprint, so the first
      // request builds and every later request probes only its
      // nprobe/bucket partitions)
      val on = strArg(f, "on")
        .getOrElse(throw new IllegalArgumentException("nearest needs on: <vector column>"))
      val id = strArg(f, "id")
        .getOrElse(throw new IllegalArgumentException("nearest needs id: <key column>"))
      val k = intArg(f, "k")
        .getOrElse(throw new IllegalArgumentException("nearest needs k:"))
      val ids = f.arg("ids").toSeq.flatMap {
        case GList(items) => items.collect { case GInt(i) => i }
        case other => throw new IllegalArgumentException(
          s"nearest ids: must be a list of ids, got $other")
      }
      val vecLit: Option[Array[Float]] = f.arg("vector").map {
        case GList(items) => items.map {
          case GFloat(d) => d.toFloat
          case GInt(i) => i.toFloat
          case other => throw new IllegalArgumentException(
            s"nearest vector: must be a list of numbers, got $other")
        }.toArray
        case other => throw new IllegalArgumentException(
          s"nearest vector: must be a list of numbers, got $other")
      }
      if (ids.isEmpty && vecLit.isEmpty)
        throw new IllegalArgumentException(
          "nearest needs ids: [<query ids>] or vector: [<embedding>]")
      if (ids.nonEmpty && vecLit.nonEmpty)
        throw new IllegalArgumentException(
          "nearest takes ids: or vector:, not both")
      val corpus = t.result
      val queries = vecLit match {
        case None => corpus.filter(col(id).isin(ids: _*))
        case Some(v) =>
          // one literal query row matching the corpus's (id, vector)
          // column names/types; the id is NULL — the scorers' self-match
          // exclusion is null-safe (!(query_id <=> neighbor_id)), so a
          // null query id excludes no corpus row while a corpus row of
          // ANY id value (including -1) still scores (round-8 ADVICE:
          // a reserved sentinel silently dropped a real corpus id -1)
          val spark = corpus.sparkSession
          import org.apache.spark.sql.types._
          val idT = corpus.schema(corpus.schema.fieldIndex(id)).dataType
          spark.createDataFrame(
            java.util.Collections.singletonList(
              org.apache.spark.sql.Row(null, v.toSeq)),
            StructType(Seq(StructField(id, idT),
              StructField(on, ArrayType(FloatType)))))
      }
      val sim = graft.operators.Similarity
      val out = strArg(f, "method").getOrElse("BRUTE").toUpperCase match {
        case "BRUTE" => sim.bruteForceTopK(corpus, queries, id, on, k)
        case "IVF" =>
          val nlist = intArg(f, "nlist").getOrElse(16)
          val nprobe = intArg(f, "nprobe").getOrElse(6)
          val idx = sim.ivfIndexFor(corpus, corpusKeyOf(corpus), id, on,
            nlist, annIndexDir)
          sim.ivfProbe(idx, queries, k, nprobe)
        case "LSH" =>
          val planes = intArg(f, "planes").getOrElse(4)
          val tables = intArg(f, "tables").getOrElse(8)
          // query-side multiprobe (probes extra buckets per table) defaults
          // ON for serving: recall@5 0.66 → 0.98 at unchanged index size
          // (PipelineSpec); probes: 0 restores single-bucket probing
          val probes = intArg(f, "probes").getOrElse(2)
          val dim = intArg(f, "dim").getOrElse(
            corpus.select(size(col(on))).head.getInt(0))
          val idx = sim.lshIndexFor(corpus, corpusKeyOf(corpus), id, on,
            planes, dim, annIndexDir, tables)
          sim.lshProbe(idx, queries, k, probes)
        case other => throw new IllegalArgumentException(
          s"nearest method: must be BRUTE, IVF or LSH, got \"$other\"")
      }
      resolveTable(GTable(out, denseRid = false), f, None)
    case "knnJoin" =>
      // batch k-NN JOIN: every row of THIS table gets its top-k cosine
      // neighbors in the named corpus table — the table-shaped
      // counterpart of `nearest` (whose query side is an id list or one
      // external vector). method: BRUTE broadcasts the corpus; LSH / IVF
      // are the big×big shuffle-join scale paths (no broadcast of either
      // side).
      val corpusName = strArg(f, "corpus")
        .getOrElse(throw new IllegalArgumentException("knnJoin needs corpus: <table>"))
      val on = strArg(f, "on")
        .getOrElse(throw new IllegalArgumentException("knnJoin needs on: <vector column>"))
      val id = strArg(f, "id")
        .getOrElse(throw new IllegalArgumentException("knnJoin needs id: <key column>"))
      val k = intArg(f, "k")
        .getOrElse(throw new IllegalArgumentException("knnJoin needs k:"))
      val corpusRoot = roots.getOrElse(corpusName,
        throw new IllegalArgumentException(s"unknown table '$corpusName'"))().result
      val corpus = f.arg("corpusWhere")
        .map(w => corpusRoot.filter(Exprs.compile(w))).getOrElse(corpusRoot)
      val sim = graft.operators.Similarity
      // method: omitted → automatic arm choice by estimated corpus size
      // (Similarity.knnJoinFlip — brute under the broadcast budget, IVF
      // above it, LSH at pathological dims), the same caller-need-not-know
      // contract as the served rankings block
      val joined = strArg(f, "method").map(_.toUpperCase) match {
        case None => sim.knnJoinAuto(t.result, corpus, id, on, k,
          planes = intArg(f, "planes").getOrElse(0),
          dim = intArg(f, "dim").getOrElse(0),
          tables = intArg(f, "tables").getOrElse(8),
          probes = intArg(f, "probes").getOrElse(0),
          nlist = intArg(f, "nlist").getOrElse(0),
          nprobe = intArg(f, "nprobe").getOrElse(6))
        case Some("BRUTE") => sim.knnJoinBrute(t.result, corpus, id, on, k)
        case Some("LSH") =>
          val planes = intArg(f, "planes").getOrElse(4)
          val tables = intArg(f, "tables").getOrElse(8)
          val probes = intArg(f, "probes").getOrElse(1)
          // dim 0 → inferred null-safely inside knnJoinLsh (resolveDim)
          val dim = intArg(f, "dim").getOrElse(0)
          sim.knnJoinLsh(t.result, corpus, id, on, k, planes, dim,
            tables, probes)
        case Some("IVF") =>
          val nlist = intArg(f, "nlist").getOrElse(16)
          val nprobe = intArg(f, "nprobe").getOrElse(6)
          sim.knnJoinIvf(t.result, corpus, id, on, k, nlist, nprobe)
        case Some(other) => throw new IllegalArgumentException(
          s"knnJoin method: must be BRUTE, IVF or LSH, got \"$other\"")
      }
      resolveTable(GTable(joined, denseRid = false), f, None)
    case "randomProject" =>
      // deterministic JL projection of an embedding column to outDim
      // dims (fused MatVec pass), appended as `alias` — ingest-time dim
      // reduction for the ANN/dedup tiers
      val on = strArg(f, "on")
        .getOrElse(throw new IllegalArgumentException("randomProject needs on: <vector column>"))
      val outDim = intArg(f, "outDim")
        .getOrElse(throw new IllegalArgumentException("randomProject needs outDim:"))
      val alias = strArg(f, "alias").getOrElse("proj")
      val family = intArg(f, "family").getOrElse(0)
      val dim = intArg(f, "dim").getOrElse(
        t.result.select(size(col(on))).head.getInt(0))
      resolveTable(GTable(graft.operators.Similarity.randomProject(
        t.result, on, alias, outDim, dim, family), denseRid = false), f, None)
    case "snapshotDiff" =>
      // keyed recrawl delta: THIS table is the CURRENT snapshot, diffed
      // against the named previous-snapshot table (added / removed /
      // changed per key; compare: restricts the changed test).
      val oldName = strArg(f, "old")
        .getOrElse(throw new IllegalArgumentException("snapshotDiff needs old: <table>"))
      val keys = strListArg(f, "on") match {
        case Nil => throw new IllegalArgumentException(
          "snapshotDiff needs on: [<key columns>]")
        case ks => ks
      }
      val compare = strListArg(f, "compare")
      val oldRoot = roots.getOrElse(oldName,
        throw new IllegalArgumentException(s"unknown table '$oldName'"))().result
      val oldDf = f.arg("oldWhere")
        .map(w => oldRoot.filter(Exprs.compile(w))).getOrElse(oldRoot)
      val full = f.arg("includeUnchanged").collect {
        case GBool(b) => b }.getOrElse(false)
      resolveTable(GTable(graft.operators.Snapshot.diff(
        oldDf, t.result, keys, compare, full), denseRid = false), f, None)
    case "snapshotAsOf" =>
      // time-travel read: THIS table is a snapshotSink delta log;
      // reconstruct the keyed state as of batch `version` (default
      // latest) — one hash aggregation over the log, no snapshot copies
      val keys = strListArg(f, "on") match {
        case Nil => throw new IllegalArgumentException(
          "snapshotAsOf needs on: [<key columns>]")
        case ks => ks
      }
      val version = intArg(f, "version").map(_.toLong).getOrElse(-1L)
      resolveTable(GTable(graft.operators.Snapshot.asOf(
        t.result, keys, version), denseRid = false), f, None)
    case "profile" =>
      // per-column census (count/nulls/ndv/min/max/mean) in one
      // whole-table pass; by: partitions the census per group (per-source
      // data quality); exact: trades the single-pass approx NDV for the
      // multi-distinct exact plan
      val columns = strListArg(f, "columns")
      val exact = f.arg("exact").collect {
        case GBool(b) => b }.getOrElse(false)
      val profiled = strListArg(f, "by") match {
        case Nil => graft.operators.Profile.summary(t.result, columns, exact)
        case by => graft.operators.Profile.summaryBy(t.result, by, columns, exact)
      }
      resolveTable(GTable(profiled, denseRid = false), f, None)
    case "tfidf" =>
      // per-document top-k terms by tf-idf (keyword extraction)
      val on = strArg(f, "on")
        .getOrElse(throw new IllegalArgumentException("tfidf needs on: <text column>"))
      val id = strArg(f, "id")
        .getOrElse(throw new IllegalArgumentException("tfidf needs id: <key column>"))
      val k = intArg(f, "k")
        .getOrElse(throw new IllegalArgumentException("tfidf needs k:"))
      resolveTable(GTable(graft.operators.TextAnalysis.tfidfTopTerms(
        t.result, on, id, k)), f, None)
    case "textStats" =>
      // per-document text metrics (language ID, quality, Gopher stats,
      // repetition, token counts) — ONE fused text_stats pass per row
      // projected as a real column, metrics derived by field arithmetic;
      // metrics: selects which metric groups to append
      val on = strArg(f, "on")
        .getOrElse(throw new IllegalArgumentException("textStats needs on: <text column>"))
      val groups = strListArg(f, "metrics") match {
        case Nil => Seq("quality")
        case g => g
      }
      val known = Set("quality", "lang", "tokens", "gopher", "repetition")
      groups.find(!known(_)).foreach(g => throw new IllegalArgumentException(
        s"textStats metrics: unknown group \"$g\" (expected ${known.mkString("/")})"))
      val ta = graft.operators.TextAnalysis
      val st = col("_gq_textstats")
      val metricCols: Seq[(String, Column)] = groups.flatMap {
        case "quality" => ta.qualityMetricsFrom(st)
        case "lang" => Seq("pred_lang" -> ta.langIdFrom(st))
        case "tokens" => ta.tokenCountsFrom(st)
        case "gopher" => ta.gopherMetricsFrom(st)
        case "repetition" => ta.repetitionMetricsFrom(st)
      }
      val withSt = t.result.withColumn("_gq_textstats", ta.stats(col(on)))
      val out = metricCols.foldLeft(withSt) { case (d, (n, c)) =>
        d.withColumn(n, c) }.drop("_gq_textstats")
      resolveTable(GTable(out, sortedBy = t.sortedBy, denseRid = t.denseRid),
        f, None)
    case "qualityScore" =>
      // fastText-style linear quality-classifier scoring: the model is a
      // named (idx, weight) table root — at most `dim` rows, broadcast;
      // appends (score, prob) per document
      val on = strArg(f, "on")
        .getOrElse(throw new IllegalArgumentException("qualityScore needs on: <text column>"))
      val id = strArg(f, "id")
        .getOrElse(throw new IllegalArgumentException("qualityScore needs id: <key column>"))
      val wName = strArg(f, "weights")
        .getOrElse(throw new IllegalArgumentException("qualityScore needs weights: <table>"))
      val dim = intArg(f, "dim")
        .getOrElse(throw new IllegalArgumentException("qualityScore needs dim:"))
      val bias = doubleArg(f, "bias").getOrElse(0.0)
      val weights = roots.getOrElse(wName,
        throw new IllegalArgumentException(s"unknown table '$wName'"))().result
      resolveTable(GTable(graft.operators.TextAnalysis.scoreLinear(
        t.result, on, id, weights, dim, bias)), f, None)
    case "dsirSelect" =>
      // DSIR importance resampling: Gumbel-top-k of THIS table (the raw
      // corpus) toward the named target table's hashed-unigram
      // distribution; targetWhere: restricts the target side
      val on = strArg(f, "on")
        .getOrElse(throw new IllegalArgumentException("dsirSelect needs on: <text column>"))
      val id = strArg(f, "id")
        .getOrElse(throw new IllegalArgumentException("dsirSelect needs id: <key column>"))
      val tgtName = strArg(f, "target")
        .getOrElse(throw new IllegalArgumentException("dsirSelect needs target: <table>"))
      val k = intArg(f, "k")
        .getOrElse(throw new IllegalArgumentException("dsirSelect needs k:"))
      val dim = intArg(f, "dim").getOrElse(1 << 16)
      val seed = strArg(f, "seed").getOrElse("0")
      val tgtRoot = roots.getOrElse(tgtName,
        throw new IllegalArgumentException(s"unknown table '$tgtName'"))().result
      val target = f.arg("targetWhere")
        .map(w => tgtRoot.filter(Exprs.compile(w))).getOrElse(tgtRoot)
      resolveTable(GTable(graft.operators.TextAnalysis.dsirResample(
        t.result, target, on, id, dim, k, seed), denseRid = false), f, None)
    case "fingerprint" =>
      // fused rolling-hash document fingerprint projection
      val on = strArg(f, "on")
        .getOrElse(throw new IllegalArgumentException("fingerprint needs on: <text column>"))
      val alias = strArg(f, "alias").getOrElse("fp")
      val out = t.result.withColumn(alias,
        graft.operators.TextAnalysis.fingerprint(col(on)))
      resolveTable(GTable(out, sortedBy = t.sortedBy, denseRid = t.denseRid),
        f, None)
    case "pack" =>
      // token-budget sequence packing: one row per bin (block prefix-sum
      // cumulative — needs the natural row order, so it must precede any
      // order/join field that invalidates dense positions)
      val on = strArg(f, "on")
        .getOrElse(throw new IllegalArgumentException("pack needs on: <text column>"))
      val id = strArg(f, "id")
        .getOrElse(throw new IllegalArgumentException("pack needs id: <key column>"))
      val budget = intArg(f, "budget")
        .getOrElse(throw new IllegalArgumentException("pack needs budget:"))
      // packBins' cumulative block prefix-sum only needs the rid as an
      // ORDERED key (sparse blocks prefix-combine the same way), so a
      // filtered table packs fine. Still rejected: a table with no rid at
      // all (post-join/group — no natural order to pack along) and an
      // explicitly SORTED table (packing would silently follow the old
      // natural order, not the requested sort)
      if (!Natural.hasRowId(t.df) || t.isSorted)
        throw new IllegalArgumentException(
          "pack requires the natural row order; place it before order/join/group fields")
      resolveTable(GTable(graft.operators.Sampling.packBins(t, id,
        size(graft.operators.TextAnalysis.tokens(col(on))), budget.toLong)),
        f, None)
    case "chunks" =>
      // RAG-style overlapping token chunking: (id, chunk_idx, chunk) rows,
      // token array projected once per row (TextAnalysis.chunked)
      val on = strArg(f, "on")
        .getOrElse(throw new IllegalArgumentException("chunks needs on: <text column>"))
      val id = strArg(f, "id")
        .getOrElse(throw new IllegalArgumentException("chunks needs id: <key column>"))
      val size = intArg(f, "size")
        .getOrElse(throw new IllegalArgumentException("chunks needs size:"))
      val overlap = intArg(f, "overlap").getOrElse(0)
      resolveTable(GTable(graft.operators.TextAnalysis.chunked(
        t.result, on, id, size, overlap)), f, None)
    case "scrub" =>
      // PII scrubbing projection (emails/IPv4/phones -> typed placeholders);
      // replaces the column in place unless alias: names a new one
      val on = strArg(f, "on")
        .getOrElse(throw new IllegalArgumentException("scrub needs on: <text column>"))
      val alias = strArg(f, "alias").getOrElse(on)
      val out = t.result.withColumn(alias,
        graft.operators.TextAnalysis.scrubPii(col(on)))
      resolveTable(GTable(out, sortedBy = t.sortedBy, denseRid = t.denseRid),
        f, None)
    case "imageMeta" =>
      // REAL byte-format header parsing (JPEG/PNG/GIF/BMP/WebP) over a
      // binary column: adds format/width/height (alias: prefixes them).
      // A string column is UTF-8-packed first so the field composes with
      // text roots; row count and order are preserved (pure projection).
      val on = strArg(f, "on")
        .getOrElse(throw new IllegalArgumentException("imageMeta needs on: <binary column>"))
      val prefix = strArg(f, "alias").getOrElse("")
      val src = t.result.schema(on).dataType match {
        case org.apache.spark.sql.types.BinaryType => col(on)
        case org.apache.spark.sql.types.StringType =>
          graft.operators.Multimodal.packBlob(col(on))
        case other => throw new IllegalArgumentException(
          s"imageMeta needs a binary (or string) column, got $on: ${other.simpleString}")
      }
      val meta = graft.operators.Multimodal.imageMetadata(t.df.sparkSession, src)
      // project the fused parse ONCE as a real column, then split its
      // fields (the TextAnalysis.stats hot-path rule): three direct
      // getFields would put three copies of the header parse in the
      // collapsed projection and re-parse per field wherever
      // subexpression elimination doesn't rescue it
      val out = t.result
        .withColumn("_gq_imeta", meta)
        .withColumn(s"${prefix}format", col("_gq_imeta").getField("format"))
        .withColumn(s"${prefix}width", col("_gq_imeta").getField("width"))
        .withColumn(s"${prefix}height", col("_gq_imeta").getField("height"))
        .drop("_gq_imeta")
      resolveTable(GTable(out, sortedBy = t.sortedBy, denseRid = t.denseRid),
        f, None)
    case "mediaFeatures" =>
      // typed batch decode (the mapInPandas-analog mapPartitions path with
      // per-partition decoder lifecycle): k features per blob, unpacked to
      // f0..f(k-1) scalar columns plus n_bytes
      val on = strArg(f, "on")
        .getOrElse(throw new IllegalArgumentException("mediaFeatures needs on: <binary column>"))
      val id = strArg(f, "id")
        .getOrElse(throw new IllegalArgumentException("mediaFeatures needs id: <long key column>"))
      val k = intArg(f, "k").getOrElse(2)
      require(k > 0 && k <= 64, s"mediaFeatures k out of range: $k")
      val spark = t.df.sparkSession
      import spark.implicits._
      val blobCol = t.result.schema(on).dataType match {
        case org.apache.spark.sql.types.BinaryType => col(on)
        case org.apache.spark.sql.types.StringType =>
          graft.operators.Multimodal.packBlob(col(on))
        case other => throw new IllegalArgumentException(
          s"mediaFeatures needs a binary (or string) column, got $on: ${other.simpleString}")
      }
      // null contracts (a raw task NPE is not an answer): a null blob
      // decodes as an EMPTY blob (n_bytes 0, the decoder's deterministic
      // empty-input features) — the same degrade-not-fail shape as
      // imageMeta on unparseable bytes; a null id has no meaningful
      // feature row and fails loudly with a typed per-row error instead
      // of the encoder's opaque non-nullable-field crash
      // the guard is on the CAST result, not the raw column: a non-null
      // id that casts to null (non-numeric string) must hit the same
      // typed error, not the encoder's non-nullable-field crash
      val rows = t.result
        .filter(assert_true(col(id).cast("long").isNotNull,
          lit(s"mediaFeatures: $id must be non-null and castable to long"))
          .isNull)
        .select(col(id).cast("long").as("doc_id"),
          coalesce(blobCol, lit(Array.empty[Byte])).as("blob"))
        .as[graft.operators.Multimodal.MediaRow]
      val feats = graft.operators.Multimodal.decodeBatch(rows, k).toDF()
      val unpacked = (0 until k).foldLeft(feats) { (d, i) =>
        d.withColumn(s"f$i", col("features")(i))
      }.drop("features").withColumnRenamed("doc_id", id)
      resolveTable(GTable(unpacked), f, None)
    case "shuffle" =>
      // deterministic md5-keyed corpus shuffle (range-partitioned sort);
      // the key is served as shuffle_key
      val key = strArg(f, "on")
        .getOrElse(throw new IllegalArgumentException("shuffle needs on: <key column>"))
      val out = graft.operators.Sampling.shuffled(t.df, col(key), seedArg(f))
      resolveTable(GTable(out, sortedBy = Seq(col("shuffle_key")),
        denseRid = false), f, None)

    case "search" =>
      // inverted-index keyword search: keep rows whose whitespace-token set
      // matches at least minMatch: of terms: (default ALL — the AND search;
      // 1 — OR), or phrase:/k: (exact phrase, BM25 top-k). Served off a
      // prebuilt positional posting index (TextSearch.textIndexFor: first
      // request builds, later requests re-open the cached/sidecar index;
      // probes read ONLY the bucket dirs the terms hash to, never the
      // corpus text). One tree per corpus serves all three probe kinds.
      val on = strArg(f, "on")
        .getOrElse(throw new IllegalArgumentException("search needs on: <text column>"))
      val id = strArg(f, "id")
        .getOrElse(throw new IllegalArgumentException("search needs id: <key column>"))
      val terms = strListArg(f, "terms")
      val phrase = strListArg(f, "phrase")
      val kArg = intArg(f, "k")
      // every arg-contract check runs BEFORE textIndexFor: a rejected
      // request must not first pay a full index build
      if (terms.isEmpty && phrase.isEmpty)
        throw new IllegalArgumentException(
          """search needs terms: ["..."] or phrase: ["..."]""")
      if (terms.nonEmpty && phrase.nonEmpty)
        throw new IllegalArgumentException(
          "search takes terms: OR phrase:, not both")
      if (kArg.isDefined && phrase.nonEmpty)
        throw new IllegalArgumentException(
          "search: ranked (k:) retrieval takes terms:, not phrase:")
      if (f.arg("minMatch").isDefined && (kArg.isDefined || phrase.nonEmpty))
        throw new IllegalArgumentException(
          "search: minMatch: applies to term membership only, not k:/phrase:")
      // k: + corpus: is the rank-then-verify contract — scores/statistics
      // are the ROOT corpus's (per-doc constants, so the restricted top-k
      // is exactly the first k survivors of the root ranking), ranks
      // renumber 1..k over this table's survivors. No per-filtered-plan
      // index build. Without corpus:, k: ranks by THIS table's own
      // statistics — which builds (and caches) an index per distinct
      // plan: the right semantics when the slice IS the corpus, priced
      // accordingly.
      if (kArg.isDefined)
        Seq("score", "rank").foreach(c => require(!t.df.columns.contains(c),
          s"search(k:) emits a '$c' column; the table already has one"))
      // corpus: names a root to index INSTEAD of this table — MEMBERSHIP
      // and phrase search are pure per-document content filters, so
      // probing a superset index and semi-joining the current table is
      // exact, and `filter → search` then reuses the root's index (the
      // same tree its unfiltered membership, phrase and k: requests read)
      // instead of building one per distinct filtered plan (the 100 TB
      // serving shape).
      // Default: index this table (plan-keyed, content-fingerprinted).
      val searchCorpus = strArg(f, "corpus") match {
        case Some(name) => roots.getOrElse(name,
          throw new IllegalArgumentException(s"unknown table '$name'"))().result
        case None => t.result
      }
      // one positional tree per corpus serves membership, phrase: and k:
      val idx = graft.operators.TextSearch.textIndexFor(searchCorpus,
        corpusKeyOf(searchCorpus), on, id, annIndexDir,
        buckets = intArg(f, "buckets").getOrElse(256))
      // k: switches to BM25 ranked retrieval — the table's matching rows
      // gain score + rank columns (order with order(by: ["rank"]))
      val out = kArg match {
        case Some(kk) =>
          val ranked =
            if (strArg(f, "corpus").isDefined)
              graft.operators.TextSearch.rankedSearchWithin(idx, terms, kk,
                t.df, id)
            else graft.operators.TextSearch.rankedSearch(idx, terms, kk)
          t.df.join(ranked.withColumnRenamed("id", "_gq_sid"),
            col(id) === col("_gq_sid")).drop("_gq_sid")
        case None =>
          val ids =
            if (phrase.nonEmpty) graft.operators.TextSearch.phraseIds(idx, phrase)
            else graft.operators.TextSearch.searchIds(idx, terms,
              intArg(f, "minMatch").getOrElse(0))
          t.df.join(ids.withColumnRenamed("id", "_gq_sid"),
            col(id) === col("_gq_sid"), "left_semi")
      }
      // sortedBy dropped: the id join may re-order (same rule as dedup)
      resolveTable(GTable(out, denseRid = false), f, None)
    case "tokenBudget" =>
      // deterministic token-budget head: the first budget: tokens of the
      // md5-shuffled stream, cut after the crossing document (Sampling
      // .takeTokenBudget — block prefix-sum, no global sort). Token width
      // is the whitespace token count of on:, or the numeric counts: column
      // when given. Emits shuffle_key + tokens_before.
      val id = strArg(f, "id")
        .getOrElse(throw new IllegalArgumentException("tokenBudget needs id: <key column>"))
      val budget = longArg(f, "budget")
        .getOrElse(throw new IllegalArgumentException("tokenBudget needs budget:"))
      val tok = strArg(f, "counts").map(col).getOrElse {
        val on = strArg(f, "on").getOrElse(throw new IllegalArgumentException(
          "tokenBudget needs on: <text column> or counts: <numeric column>"))
        size(graft.operators.TextAnalysis.tokens(col(on)))
      }
      resolveTable(GTable(graft.operators.Sampling.takeTokenBudget(
        t.df, id, tok, budget, seedArg(f)), denseRid = false), f, None)
    case "optional" =>
      // nullable self: stops error propagation for partial results
      // (reference interface.py:138-141)
      try resolveTable(t, f, sql) catch { case _: Exception => "null" }
    case "plan" =>
      // plan reflection (nearest Spark analog of the reference's toSql,
      // interface.py:109-115 — Spark has no plan→SQL printer)
      Json.quote(t.df.queryExecution.analyzed.toString)
    case other => throw new IllegalArgumentException(s"unknown field '$other'")
  }

  private def resolveSchema(t: GTable, f: GField): String = {
    val fields = t.result.schema.fields
    Json.obj(f.sels.map(s => s.outName -> (s.name match {
      case "names" => Json.write(fields.map(_.name).toSeq)
      case "types" => Json.write(fields.map(_.dataType.simpleString).toSeq)
      case "partitioning" =>
        // hive partition keys read from the scan relations' partition schema
        // (reference schema.partitioning, test_dataset.py:66-70)
        val keys = t.df.queryExecution.analyzed.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.partitionSchema.fieldNames.toSeq
              case _ => Nil
            }
        }.flatten.distinct
        Json.write(keys)
      case other => throw new IllegalArgumentException(s"unknown schema field '$other'")
    })))
  }

  /** project(columns: [{alias: "x", ...expr}]): expression trees. Top-level
    * cumsum/cummax/cummin/cummean over natural order route through
    * GTable.cumulative (block prefix sums — no global window); on an
    * explicitly sorted table they follow the sort via a window over the sort
    * keys. */
  private def resolveProject(t: GTable, f: GField, sql: Option[String]): JsonStream = {
    val items = f.arg("columns").toSeq.flatMap {
      case GList(xs) => xs
      case o: GObj => Seq(o)
      case _ => throw new IllegalArgumentException("project(columns:) expects objects")
    }
    val specs = items.map {
      case o @ GObj(fields) =>
        // alias defaults to the (joined) name path (reference
        // Projection.to_ibis, inputs.py:318-326)
        val alias = o.get("alias").collect { case GStr(a) if a.nonEmpty => a }
          .orElse(o.get("name").collect {
            case GStr(s) => s
            case GList(parts) => parts.collect {
              case GStr(s) => s; case GInt(i) => i.toString }.mkString(".")
          }.filter(_.nonEmpty))
          .getOrElse(throw new IllegalArgumentException(
            "projected fields require a name or alias"))
        alias -> GObj(fields.filterNot(_._1 == "alias"))
      case _ => throw new IllegalArgumentException("projection must be an object")
    }
    var out = t
    val plainCols = Seq.newBuilder[(String, Column)]
    specs.foreach { case (alias, exprVal) =>
      Exprs.cumulativeOf(exprVal) match {
        case Some((op, inner)) =>
          val c = Exprs.compile(inner)
          out = cumulativeProject(out, alias, op, c)
        case None =>
          plainCols += (alias -> Exprs.compile(exprVal))
      }
    }
    val plain = plainCols.result()
    if (plain.nonEmpty) out = out.project(plain: _*)
    val projSqls = specs.map { case (alias, e) => Exprs.toSqlOpt(e).map(s => s"$s AS $alias") }
    val projSql =
      if (projSqls.forall(_.isDefined))
        sql.map(q => s"SELECT *, ${projSqls.flatten.mkString(", ")} FROM ($q)")
      else None
    resolveTable(out, f, projSql)
  }

  private def cumulativeProject(t: GTable, alias: String, op: String, c: Column): GTable =
    if (t.isSorted) {
      // explicit sort: follow the sorted order (user already paid the sort)
      val w = GWindows.spec(Nil, t.sortedBy)
      val agg: Column => Column = op match {
        case "cumsum" | "cummean" => sum
        case "cummax" => max
        case "cummin" => min
      }
      val base = t.project(alias -> GWindows.cumulative(agg, c, w))
      if (op == "cummean")
        base.project("_gq_cn" -> GWindows.cumulative(count, c, w))
          .project(alias -> (col(alias) / col("_gq_cn")))
          .select(t.result.columns.toIndexedSeq :+ alias: _*)
      else base
    } else op match {
      case "cumsum" => t.cumulative(c, alias, sum, _ + _)
      case "cummax" => t.cumulative(c, alias, max, greatest(_, _))
      case "cummin" => t.cumulative(c, alias, min, least(_, _))
      case "cummean" =>
        t.cumulative(c, alias, sum, _ + _)
          .cumulative(when(c.isNotNull, 1L), "_gq_cn", sum, _ + _)
          .project(alias -> (col(alias) / col("_gq_cn")))
          .select(t.result.columns.toIndexedSeq :+ alias: _*)
    }

  /** filter(col: {eq: v|[vs], ne: v|[vs], lt.., contains: v}, ...,
    * where: expressionTree) → AND-ed predicates (reference Filter input,
    * inputs.py:66-129; where, interface.py:510-519). List-valued eq = isin,
    * list-valued ne = notin (inputs.py:98-106); contains = array element
    * membership (inputs.py:125-129). */
  private def filterPreds(t: GTable, f: GField): Seq[Column] =
    f.args.flatMap {
      // a multi-key where object ANDs its predicates (reference
      // test_dataset.py:29-31 — filter(where: {lt: [...], eq: [...]}))
      case ("where", GObj(fields)) if fields.length > 1 =>
        fields.map(kv => Exprs.compile(GObj(Seq(kv))))
      case ("where", e) => Seq(Exprs.compile(e))
      case (colName, GObj(preds)) => preds.map { case (op, v) =>
        val c = col(colName)
        op match {
          case "eq" => v match {
            case GNull => c.isNull
            case GList(Seq(one)) => c === litOf(one)
            case GList(items) => c.isin(items.map(Exprs.scalaOf): _*)
            case single => c === litOf(single)
          }
          case "ne" => v match {
            case GNull => c.isNotNull
            case GList(Seq(one)) => c =!= litOf(one)
            case GList(items) => !c.isin(items.map(Exprs.scalaOf): _*)
            case single => c =!= litOf(single)
          }
          case "lt" => c < litOf(v)
          case "le" => c <= litOf(v)
          case "gt" => c > litOf(v)
          case "ge" => c >= litOf(v)
          case "contains" => array_contains(c, litOf(v))
          case "isin" => v match {
            case GList(items) => c.isin(items.map(Exprs.scalaOf): _*)
            case _ => throw new IllegalArgumentException("isin expects a list")
          }
          case "notin" => v match {
            case GList(items) => !c.isin(items.map(Exprs.scalaOf): _*)
            case _ => throw new IllegalArgumentException("notin expects a list")
          }
          case other => throw new IllegalArgumentException(s"unknown predicate '$other'")
        }
      }
      case (colName, other) =>
        throw new IllegalArgumentException(s"filter($colName:) expects an object")
    }

  /** SQL rendering of the predicate objects (toSql support); None when a
    * predicate has no SQL mirror. */
  private def filterPredsSql(f: GField): Option[Seq[String]] = {
    val rendered = f.args.map {
      case ("where", e) => Exprs.toSqlOpt(e).map(Seq(_))
      case (colName, GObj(preds)) =>
        val parts = preds.map { case (op, v) =>
          op match {
            case "eq" => v match {
              case GNull => Some(s"$colName IS NULL")
              case GList(Seq(one)) => Some(s"$colName = ${Exprs.litSql(one)}")
              case GList(_) => Some(s"$colName IN ${Exprs.litSql(v)}")
              case _ => Some(s"$colName = ${Exprs.litSql(v)}")
            }
            case "ne" => v match {
              case GNull => Some(s"$colName IS NOT NULL")
              case GList(Seq(one)) => Some(s"$colName <> ${Exprs.litSql(one)}")
              case GList(_) => Some(s"$colName NOT IN ${Exprs.litSql(v)}")
              case _ => Some(s"$colName <> ${Exprs.litSql(v)}")
            }
            case "lt" => Some(s"$colName < ${Exprs.litSql(v)}")
            case "le" => Some(s"$colName <= ${Exprs.litSql(v)}")
            case "gt" => Some(s"$colName > ${Exprs.litSql(v)}")
            case "ge" => Some(s"$colName >= ${Exprs.litSql(v)}")
            case "isin" => Some(s"$colName IN ${Exprs.litSql(v)}")
            case "notin" => Some(s"$colName NOT IN ${Exprs.litSql(v)}")
            case _ => None
          }
        }
        if (parts.forall(_.isDefined)) Some(parts.flatten) else None
      case _ => None
    }
    if (rendered.forall(_.isDefined)) Some(rendered.flatten.flatten) else None
  }

  /** group(by: [...], counts: "n", order: FIRST_SEEN,
    * aggregate: {sum: [...], first: [...], quantile: [...], ...}) — the
    * full Aggregates surface (reference inputs.py:206-231). Group order is
    * opt-in (reference orders only when asked, interface.py:233-243). */
  private def resolveGroup(t: GTable, f: GField, sql: Option[String]): JsonStream = {
    val by = strListArg(f, "by")
    val counts = f.arg("counts").collect { case GStr(c) => c }
    // order: names a first-seen position column added to the output, and
    // sorts the groups by it (reference interface.py:240-243, where order
    // mutates a row_number and keeps its first() per group); the bare
    // FIRST_SEEN enum orders without exposing the column
    val orderName = f.arg("order").collect {
      case GEnum(o) if o.nonEmpty => o
      case GStr(o) if o.nonEmpty => o
    }
    val firstSeen = orderName.nonEmpty
    val exposeOrder = orderName.filterNot(_.equalsIgnoreCase("first_seen"))
    val aggs = aggregatesOf(t, f)
    val aggSqls = f.arg("aggregate").toSeq.flatMap {
      case GObj(kinds) => kinds.flatMap {
        case (fn, GList(specs)) => specs.collect { case o: GObj => aggSql(fn, o) }
        case (fn, o: GObj) => Seq(aggSql(fn, o))
        case _ => Nil
      }
      case _ => Nil
    } ++ counts.map(c => Some(s"count(*) AS $c"))
    val groupSql =
      if (aggSqls.forall(_.isDefined)) sql.map { q =>
        val sel = (by ++ aggSqls.flatten).mkString(", ")
        s"SELECT $sel FROM ($q)" + (if (by.nonEmpty) s" GROUP BY ${by.mkString(", ")}" else "")
      } else None
    val grouped = t.group(by, aggs, counts,
      firstSeenOrder = firstSeen && Natural.hasRowId(t.df))
    val out = exposeOrder match {
      // the hidden min-rid IS the first-seen 0-based position on a dense root
      case Some(n) if Natural.hasRowId(grouped.df) => grouped.project(n -> col(Natural.rid))
      case _ => grouped
    }
    resolveTable(out, f, groupSql)
  }

  /** aggregate: {kind: spec | [specs], ...} → aliased Columns (shared by
    * group and runs). */
  private def aggregatesOf(t: GTable, f: GField): Seq[Column] =
    f.arg("aggregate").toSeq.flatMap {
      case GObj(kinds) => kinds.flatMap {
        case (fn, GList(specs)) => specs.map {
          case o: GObj => aggCol(t, fn, o)
          case _ => throw new IllegalArgumentException("aggregate spec must be an object")
        }
        case (fn, o: GObj) => Seq(aggCol(t, fn, o))
        case (fn, _) => throw new IllegalArgumentException(s"aggregate.$fn expects a list")
      }
      case _ => throw new IllegalArgumentException("aggregate expects an object")
    }

  /** One aggregate spec → aliased Column (reference Aggregate subclasses,
    * inputs.py:132-203). Spec keys: name, alias (default = name), where,
    * order_by/orderBy (first/last/collect/concat), distinct (collect),
    * sep (concat), key (argmax/argmin), q + approx (quantile/nunique),
    * how (std/var/kurtosis). */
  private def aggCol(t: GTable, fn: String, o: GObj): Column = {
    def get(key: String): Option[GVal] =
      o.v.collectFirst { case (k, v) if k.replace("_", "").equalsIgnoreCase(key) => v }
    val name = get("name").collect { case GStr(n) => n }
      .getOrElse(throw new IllegalArgumentException(s"aggregate.$fn needs name"))
    val alias = get("alias").collect { case GStr(a) => a }.getOrElse(name)
    val c = col(name)
    val where = get("where").map(Exprs.compile)
    def filt(x: Column): Column = where.fold(x)(w => when(w, x))
    val orderBy = get("orderby").toSeq.flatMap {
      case GList(items) => items.collect { case GStr(s) => s }
      case GStr(s) => Seq(s)
      case _ => Nil
    }
    // ordered first/last: min_by/max_by over the order struct; desc keys
    // flip the direction (all keys must agree — mixed asc/desc unsupported)
    def ordStruct(keys: Seq[String]): (Column, Boolean) = {
      val desc = keys.forall(_.startsWith("-"))
      if (!desc && keys.exists(_.startsWith("-")))
        throw new IllegalArgumentException("mixed asc/desc order_by unsupported in aggregates")
      (struct(keys.map(k => col(k.stripPrefix("-"))): _*), desc)
    }
    // where-gate an expression to null so null-skipping aggregates
    // (min_by/max_by/collect_list) drop filtered rows entirely — gating only
    // the inner fields would leave a non-null struct shell in collect_list
    def gated(e: Column): Column = where.fold(e)(w => when(w, e))
    val base: Column = fn.replace("_", "").toLowerCase match {
      case "sum" => sum(filt(c))
      case "mean" => avg(filt(c))
      case "min" => min(filt(c))
      case "max" => max(filt(c))
      case "count" => count(filt(c))
      case "all" => bool_and(filt(c))
      case "any" => bool_or(filt(c))
      case "argmax" | "argmin" =>
        // key may be a list — extra keys break ties deterministically
        val keys = get("key").toSeq.flatMap {
          case GStr(k) => Seq(k)
          case GList(items) => items.collect { case GStr(k) => k }
          case _ => Nil
        }
        if (keys.isEmpty) throw new IllegalArgumentException(s"$fn needs key")
        val k = if (keys.length == 1) col(keys.head) else struct(keys.map(col): _*)
        // dispatch on the same normalized spelling the outer match accepted
        // ("arg_max" must not silently fall through to min_by)
        if (fn.replace("_", "").toLowerCase == "argmax") max_by(c, filt(k))
        else min_by(c, filt(k))
      case "first" =>
        val keys = if (orderBy.isEmpty) Seq(name) else orderBy
        val (s, desc) = ordStruct(keys)
        if (desc) max_by(c, gated(s)) else min_by(c, gated(s))
      case "last" =>
        val keys = if (orderBy.isEmpty) Seq(name) else orderBy
        val (s, desc) = ordStruct(keys)
        if (desc) min_by(c, gated(s)) else max_by(c, gated(s))
      case "collect" =>
        val distinct = get("distinct").collect { case GBool(b) => b }.getOrElse(false)
        val collected =
          if (orderBy.nonEmpty) {
            val (s, desc) = ordStruct(orderBy)
            val sorted = transform(
              array_sort(collect_list(gated(struct(s.as("o"), c.as("v"))))),
              x => x.getField("v"))
            if (desc) reverse(sorted) else sorted
          } else collect_list(filt(c))
        if (distinct) array_distinct(collected) else collected
      case "concat" =>
        val sep = get("sep").collect { case GStr(s) => s }.getOrElse(",")
        if (orderBy.nonEmpty) {
          val (s, desc) = ordStruct(orderBy)
          val sorted = transform(
            array_sort(collect_list(gated(struct(s.as("o"), c.cast("string").as("v"))))),
            x => x.getField("v"))
          array_join(if (desc) reverse(sorted) else sorted, sep)
        } else array_join(collect_list(filt(c).cast("string")), sep)
      case "nunique" =>
        val approx = get("approx").collect { case GBool(b) => b }.getOrElse(false)
        GAggs.nunique(filt(c), approx)
      case "quantile" =>
        val q = get("q").collect { case GFloat(x) => x; case GInt(x) => x.toDouble }
          .getOrElse(0.5)
        val approx = get("approx").collect { case GBool(b) => b }.getOrElse(false)
        val isString = t.df.schema.find(_.name == name).exists(_.dataType == StringType)
        if (isString) GAggs.quantileDisc(filt(c), q)
        else GAggs.quantile(filt(c), q, approx)
      case "std" =>
        val how = get("how").collect { case GStr(h) => h }.getOrElse("sample")
        GAggs.stdDev(filt(c), how == "sample")
      case "var" =>
        val how = get("how").collect { case GStr(h) => h }.getOrElse("sample")
        GAggs.variance(filt(c), how == "sample")
      case "kurtosis" =>
        val how = get("how").collect { case GStr(h) => h }.getOrElse("sample")
        if (how == "sample") GAggs.kurtosisSample(filt(c)) else kurtosis(filt(c))
      case "mode" => mode(filt(c), deterministic = true)
      case other => throw new IllegalArgumentException(s"unknown aggregate '$other'")
    }
    base.as(alias)
  }

  /** DuckDB-SQL mirror of the aggregate spec for toSql; None when there is
    * no simple SQL equivalent. */
  private def aggSql(fn: String, o: GObj): Option[String] = {
    def get(key: String): Option[GVal] =
      o.v.collectFirst { case (k, v) if k.replace("_", "").equalsIgnoreCase(key) => v }
    val nameO = get("name").collect { case GStr(n) => n }
    if (get("where").nonEmpty || get("orderby").nonEmpty) return None
    nameO.flatMap { nm =>
      val al = get("alias").collect { case GStr(a) => a }.getOrElse(nm)
      fn.toLowerCase match {
        case "sum" | "min" | "max" | "count" => Some(s"$fn($nm) AS $al")
        case "mean" => Some(s"avg($nm) AS $al")
        case "std" => Some(s"stddev_samp($nm) AS $al")
        case "var" => Some(s"var_samp($nm) AS $al")
        case "nunique" => Some(s"count(DISTINCT $nm) AS $al")
        case _ => None
      }
    }
  }

  /** window(over: [...], by: ["±col"], <ops>) — the full reference Window
    * block (inputs.py:490-557): 0-based ranking, ntile, lag/lead with
    * defaults, pairwise adjacency ops, framed/cumulative aggregates. Ops
    * take a list of specs {name, alias, offset, default, preceding,
    * following, range, n}. */
  private def resolveWindow(t: GTable, f: GField): JsonStream = {
    val over = strListArg(f, "over").map(col)
    val byKeys = strListArg(f, "by")
    val w = GWindows.spec(over, GTable.orderKeys(byKeys))

    // Pure ranking blocks dispatch through rankingsAuto: a plain
    // PARTITION BY window caps parallelism at #distinct-keys tasks, so
    // above the measured crossover (spark.graft.rankings.flipRows) the
    // range-partitioned distributed rankings serve instead — the caller's
    // query is identical either way.
    val rankOps = Set("rowNumber", "rank", "denseRank", "percentRank", "ntile")
    val opArgs = f.args.filter { case (k, _) => k != "over" && k != "by" }
    // above the flip threshold rankingsAuto may run jobs at plan-construction
    // time (the exact row count of the ambiguous band, the counts
    // strategy's tuple probe) — only worth it when the selection actually
    // materializes rows. A schema/type/toSql-only selection stays on the
    // lazy window form (same output schema), so reflection queries never
    // trigger a ranking job (mirrors the resolveTable persist policy's
    // consumer test).
    val materializes = f.sels.exists(s =>
      !Set("type", "schema", "toSql").contains(s.name))
    val pureRanking = materializes && over.nonEmpty && byKeys.nonEmpty &&
      opArgs.nonEmpty && opArgs.forall { case (k, _) => rankOps(k) }
    if (pureRanking) {
      def alias(v: GVal, dflt: String): String = v match {
        case GStr(a) => a
        case o: GObj => o.v.collectFirst {
          case (k, GStr(a)) if k.equalsIgnoreCase("alias") => a }.getOrElse(dflt)
        case _ => dflt
      }
      var rn, rk, dr, pr: Option[String] = None
      var nt: Option[(Int, String)] = None
      opArgs.foreach {
        case ("rowNumber", v) => rn = Some(alias(v, "rowNumber"))
        case ("rank", v) => rk = Some(alias(v, "rank"))
        case ("denseRank", v) => dr = Some(alias(v, "denseRank"))
        case ("percentRank", v) => pr = Some(alias(v, "percentRank"))
        case ("ntile", v) =>
          val (n, a) = v match {
            case GInt(n0) => (n0.toInt, "ntile")
            case o: GObj =>
              val n0 = o.v.collectFirst {
                case (k, GInt(i)) if k.equalsIgnoreCase("n") => i.toInt }
                .getOrElse(throw new IllegalArgumentException("ntile needs n"))
              (n0, alias(o, "ntile"))
            case _ => throw new IllegalArgumentException("ntile expects int or {n, alias}")
          }
          nt = Some((n, a))
        case _ => ()
      }
      val ordCols = byKeys.map(k => col(k.stripPrefix("-")))
      val descs = byKeys.map(_.startsWith("-"))
      return resolveTable(t.rankingsAuto(strListArg(f, "over"), ordCols, descs,
        rowNumber = rn, rank = rk, denseRank = dr, percentRank = pr,
        ntile = nt), f, None)
    }
    var out = t
    def specList(v: GVal): Seq[GObj] = v match {
      case GList(items) => items.collect { case o: GObj => o }
      case o: GObj => Seq(o)
      case _ => Nil
    }
    def sGet(o: GObj, key: String): Option[GVal] =
      o.v.collectFirst { case (k, v) if k.replace("_", "").equalsIgnoreCase(key) => v }
    f.args.foreach {
      case ("over", _) | ("by", _) => ()
      case (op, v) => op match {
        case "rowNumber" | "rank" | "denseRank" | "percentRank" | "cumeDist" =>
          val alias = v match {
            case GStr(a) => a
            case o: GObj => sGet(o, "alias").collect { case GStr(a) => a }.getOrElse(op)
            case _ => op
          }
          val c = op match {
            case "rowNumber" => GWindows.rowNumber0(w)
            case "rank" => GWindows.rank0(w)
            case "denseRank" => GWindows.denseRank0(w)
            case "percentRank" => GWindows.percentRank(w)
            case _ => GWindows.cumeDist(w)
          }
          out = out.project(alias -> c)
        case "ntile" =>
          val (n, alias) = v match {
            case GInt(n0) => (n0.toInt, "ntile")
            case o: GObj => (
              sGet(o, "n").collect { case GInt(i) => i.toInt }
                .getOrElse(throw new IllegalArgumentException("ntile needs n")),
              sGet(o, "alias").collect { case GStr(a) => a }.getOrElse("ntile"))
            case _ => throw new IllegalArgumentException("ntile expects int or {n, alias}")
          }
          out = out.project(alias -> GWindows.ntile0(n, w))
        case "lag" | "lead" | "eq" | "ne" | "lt" | "le" | "gt" | "ge" | "sub" =>
          specList(v).foreach { o =>
            val nm = sGet(o, "name").collect { case GStr(n) => n }
              .getOrElse(throw new IllegalArgumentException(s"window.$op needs name"))
            val off = sGet(o, "offset").collect { case GInt(i) => i.toInt }.getOrElse(1)
            val dflt = sGet(o, "default").map(Exprs.scalaOf).orNull
            val al = sGet(o, "alias").collect { case GStr(a) => a }.getOrElse(s"${op}_$nm")
            val c = op match {
              case "lag" => GWindows.lagDefault(col(nm), off, dflt, w)
              case "lead" => GWindows.leadDefault(col(nm), off, dflt, w)
              case "eq" => GWindows.pairwise(col(nm), _ === _, off, dflt, w)
              case "ne" => GWindows.pairwise(col(nm), _ =!= _, off, dflt, w)
              case "lt" => GWindows.pairwise(col(nm), _ < _, off, dflt, w)
              case "le" => GWindows.pairwise(col(nm), _ <= _, off, dflt, w)
              case "gt" => GWindows.pairwise(col(nm), _ > _, off, dflt, w)
              case "ge" => GWindows.pairwise(col(nm), _ >= _, off, dflt, w)
              case _ => GWindows.pairwise(col(nm), _ - _, off, dflt, w)
            }
            out = out.project(al -> c)
          }
        case "count" | "sum" | "mean" | "min" | "max" =>
          val agg: Column => Column = op match {
            case "count" => count
            case "sum" => sum
            case "mean" => avg
            case "min" => min
            case _ => max
          }
          specList(v).foreach { o =>
            val nm = sGet(o, "name").collect { case GStr(n) => n }
              .getOrElse(throw new IllegalArgumentException(s"window.$op needs name"))
            val al = sGet(o, "alias").collect { case GStr(a) => a }.getOrElse(s"${op}_$nm")
            val prec = sGet(o, "preceding").collect { case GInt(i) => i }
            val foll = sGet(o, "following").collect { case GInt(i) => i }
            val ranged = sGet(o, "range").collect { case GBool(b) => b }.getOrElse(false)
            val c = (prec, foll) match {
              case (None, None) =>
                if (byKeys.nonEmpty) GWindows.cumulative(agg, col(nm), w)
                else GWindows.overPartition(agg, col(nm), over)
              case _ =>
                // absent bound = unbounded on that side (reference
                // inputs.py:521-529 / ibis window semantics)
                val lo = prec.map(p => -p).getOrElse(Long.MinValue)
                val hi = foll.getOrElse(Long.MaxValue)
                if (ranged) agg(col(nm)).over(w.rangeBetween(lo, hi))
                else agg(col(nm)).over(w.rowsBetween(lo, hi))
            }
            out = out.project(al -> c)
          }
        case other => throw new IllegalArgumentException(s"unknown window op '$other'")
      }
    }
    resolveTable(out, f, None)
  }

  /** columns { name { ... } } — pruned to the referenced columns; the full
    * per-type Column surface (reference models.py:47-255): generic values/
    * distinct/first/last/dropNull/fillNull/mode/min/max/quantile, numeric
    * sum/mean/std/var, boolean any/all, array unnest/length, struct
    * names/types, plus type/count/countDistinct. */
  private def resolveColumns(t: GTable, f: GField): JsonStream = {
    val wanted = f.sels
    val served = columnsOn(t.select(wanted.map(_.name): _*), wanted)
    JsonStream.obj(wanted.map(_.outName).zip(served))
  }

  /** The Spark actions behind one column selection over `frame`. Leaves
    * register here while the selection is planned, and each registration
    * returns the slot its leaf reads after [[run]]:
    *  - value-class leaves (values/dropNull/fillNull/length) of EVERY
    *    column are projections of ONE select over the ordered frame,
    *    collected once under the serve cap;
    *  - aggregate leaves of every column are columns of ONE agg row;
    *  - distinct and unnest run their own action each ([[extra]]).
    * [[actions]] counts them, so the caller persists the frame only when
    * the selection still executes it more than once. */
  private final class ColumnActions(frame: GTable) {
    private val valueCols, aggCols =
      scala.collection.mutable.ArrayBuffer.empty[Column]
    private var extras = 0
    private var capLeaf = "" // the column the serve-cap error names
    private var rows: Array[org.apache.spark.sql.Row] = Array.empty
    private var aggRow: org.apache.spark.sql.Row = null

    def value(c: Column, column: String): Int = {
      if (valueCols.isEmpty) capLeaf = column
      valueCols += c; valueCols.size - 1
    }
    def agg(c: Column): Int = { aggCols += c; aggCols.size - 1 }
    def extra(): Unit = extras += 1
    def actions: Int = Seq(valueCols, aggCols).count(_.nonEmpty) + extras

    def run(): Unit = {
      if (valueCols.nonEmpty) {
        // rows in current order: explicit sort wins over the natural row id
        val ordered =
          if (frame.isSorted) frame.df
          else if (Natural.hasRowId(frame.df)) frame.df.orderBy(col(Natural.rid))
          else frame.df
        rows = cappedCollect(ordered.select(valueCols.toSeq: _*), capLeaf)
      }
      if (aggCols.nonEmpty)
        aggRow = frame.df.agg(aggCols.head, aggCols.tail.toSeq: _*).collect()(0)
    }
    /** A value slot's column in row order — a view, not a copy. */
    def values(slot: Int): Iterable[Any] = rows.view.map(_.get(slot))
    def aggregate(slot: Int): Any = aggRow.get(slot)
  }

  /** Serve `fields` (column selections) over `frame`: plan every leaf onto
    * one [[ColumnActions]], persist the frame only if that takes more than
    * one action (otherwise the parent plan would execute once per action),
    * run, then render. The persist is released before the response streams
    * out: value arrays are collected here and only stringified lazily. */
  private def columnsOn(frame: GTable, fields: Seq[GField]): Seq[JsonStream] = {
    val acts = new ColumnActions(frame)
    val planned = fields.map(cf => planColumn(frame, cf, acts))
    val persisted = acts.actions > 1
    if (persisted) frame.df.persist()
    try {
      acts.run()
      planned.map(render => render())
    } finally if (persisted) { frame.df.unpersist(); () }
  }

  /** Driver-materialization guard for value-returning column leaves
    * (`values`/`dropNull`/`fillNull`/`length`/`distinct`): these collect
    * the ENTIRE column to the driver — reference parity (models.py
    * serves full columns too), but the reference runs single-node where
    * the data already fits, while this engine's roots can be 100 TB. With
    * `spark.graft.serve.maxValues` (or env `GRAFT_SERVE_MAX_VALUES`) set,
    * a leaf past the cap becomes a clear GraphQL error telling the caller
    * to slice — a 4xx instead of a driver OOM. Unset = unlimited
    * (parity). Implemented as limit(cap+1): the driver never holds more
    * than cap+1 rows even while deciding to refuse. */
  private def serveCap(df: org.apache.spark.sql.DataFrame): Option[Long] =
    df.sparkSession.conf.getOption("spark.graft.serve.maxValues")
      .orElse(sys.env.get("GRAFT_SERVE_MAX_VALUES"))
      .map(_.toLong).filter(_ > 0)

  private def cappedCollect(df: org.apache.spark.sql.DataFrame,
                            leaf: String): Array[org.apache.spark.sql.Row] =
    serveCap(df) match {
      case Some(cap) =>
        val rows = df.limit(math.min(cap + 1, Int.MaxValue.toLong).toInt).collect()
        if (rows.length > cap) throw new IllegalArgumentException(
          s"'$leaf' would materialize more than $cap rows on the driver " +
          s"(spark.graft.serve.maxValues=$cap); add slice/limit before the " +
          "column selection, or raise the cap")
        rows
      case None => df.collect()
    }

  /** Reference-style typed-column GraphQL type name (models.py's
    * IntColumn/LongColumn/FloatColumn/…) — the target of inline-fragment
    * type conditions on column selections. */
  private def columnTypeName(dt: DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType => "IntColumn"
      case LongType => "LongColumn"
      case FloatType | DoubleType => "FloatColumn"
      case StringType => "StringColumn"
      case BooleanType => "BooleanColumn"
      case DateType => "DateColumn"
      case TimestampType | TimestampNTZType => "DatetimeColumn"
      case _: DecimalType => "DecimalColumn"
      case _: ArrayType => "ListColumn"
      case _: StructType => "StructColumn"
      case _: DayTimeIntervalType | _: YearMonthIntervalType => "DurationColumn"
      case _ => "Column"
    }
  }

  /** Plan one column's leaves onto `acts`; the returned thunk renders the
    * column object once [[ColumnActions.run]] has filled the slots (it runs
    * the column's distinct/unnest actions itself). */
  private def planColumn(frame: GTable, cf: GField,
                         acts: ColumnActions): () => JsonStream = {
    val c = col(cf.name)
    val dt = frame.df.schema.find(_.name == cf.name).map(_.dataType)
    val isString = dt.contains(StringType)
    // enforce fragment type conditions where the parent type varies by
    // column: `... on FloatColumn { sum }` must not run against a string
    val leafs = dt match {
      case Some(d) => cf.sels.filter(_.appliesTo(columnTypeName(d)))
      case None => cf.sels
    }
    val hasRid = Natural.hasRowId(frame.df)
    def qList(l: GField): Seq[Double] = l.arg("q").toSeq.flatMap {
      case GFloat(x) => Seq(x)
      case GInt(x) => Seq(x.toDouble)
      case GList(items) => items.collect { case GFloat(x) => x; case GInt(x) => x.toDouble }
      case _ => Nil
    } match { case Nil => Seq(0.5); case qs => qs }
    def aggColumn(l: GField): Column = l.name match {
      case "count" => count(c)
      case "countDistinct" => countDistinct(c)
      case "nunique" =>
        val approx = l.arg("approx").collect { case GBool(b) => b }.getOrElse(false)
        GAggs.nunique(c, approx)
      case "min" => min(c)
      case "max" => max(c)
      case "sum" => sum(c)
      case "mean" => avg(c)
      case "any" => bool_or(c)
      case "all" => bool_and(c)
      case "std" =>
        val how = l.arg("how").collect { case GStr(h) => h }.getOrElse("sample")
        GAggs.stdDev(c, how == "sample")
      case "var" =>
        val how = l.arg("how").collect { case GStr(h) => h }.getOrElse("sample")
        GAggs.variance(c, how == "sample")
      case "quantile" =>
        // list of qs → list result (reference models.py:143-145)
        val qs = qList(l)
        if (isString) array(qs.map(GAggs.quantileDisc(c, _)): _*)
        else array(qs.map(GAggs.quantile(c, _)): _*)
      case "mode" => mode(c, deterministic = true)
      case "first" =>
        if (hasRid) min_by(c, col(Natural.rid)) else first(c)
      case "last" =>
        if (hasRid) max_by(c, col(Natural.rid)) else last(c)
      case other => throw new IllegalArgumentException(s"unknown column leaf '$other'")
    }
    val parts = leafs.map[(String, () => JsonStream)] { l =>
      l.outName -> (l.name match {
        case "type" =>
          val s = Json.quote(dt.map(_.simpleString).getOrElse("unknown"))
          () => s
        // value-array leaves: rows are collected by ColumnActions.run
        // (inside the persist scope, under the serve cap) but stringified
        // lazily — JsonStream.lazyArr renders one element per fragment
        // pull, so a cap-admitted-but-huge column streams with O(chunk)
        // memory
        case "values" =>
          val slot = acts.value(c, cf.name)
          () => JsonStream.lazyArr(acts.values(slot))
        case "dropNull" =>
          // non-null values in order (reference models.py:122-125)
          val slot = acts.value(c, cf.name)
          () => JsonStream.lazyArr(acts.values(slot).filter(_ != null))
        case "fillNull" =>
          val v = l.arg("value").map(Exprs.scalaOf)
            .getOrElse(throw new IllegalArgumentException("fillNull needs value:"))
          val slot = acts.value(coalesce(c, lit(v)), cf.name)
          () => JsonStream.lazyArr(acts.values(slot))
        case "length" =>
          // per-row array lengths (reference ArrayColumn.length)
          val slot = acts.value(size(c), cf.name)
          () => JsonStream.lazyArr(acts.values(slot))
        case "unnest" =>
          // flattened elements served as a nested column object
          // (reference ArrayColumn.unnest, models.py:227-233)
          acts.extra()
          () => columnsOn(GTable(Natural.strip(frame.df)
            .select(explode(c).as(cf.name))), Seq(cf.copy(sels = l.sels))).head
        case "names" => dt match {
          case Some(s: org.apache.spark.sql.types.StructType) =>
            val out = Json.write(s.fieldNames.toSeq)
            () => out
          case _ => throw new IllegalArgumentException(s"names: ${cf.name} is not a struct")
        }
        case "types" => dt match {
          case Some(s: org.apache.spark.sql.types.StructType) =>
            val out = Json.write(s.fields.map(_.dataType.simpleString).toSeq)
            () => out
          case _ => throw new IllegalArgumentException(s"types: ${cf.name} is not a struct")
        }
        case "distinct" =>
          // the reference's Set: distinct values + counts pair
          // (models.py:86-98) — one value_counts aggregation
          acts.extra()
          () => {
            val vc = cappedCollect(
              Natural.strip(frame.df).groupBy(c).agg(count(lit(1)).as("n"))
                .orderBy(c), s"${cf.name}.distinct")
            JsonStream.obj(l.sels.map[(String, JsonStream)](s => s.outName -> (s.name match {
              case "values" => JsonStream.lazyArr(vc.view.map(_.get(0)))
              case "counts" => JsonStream.lazyArr(vc.view.map(_.getLong(1)))
              case "length" => JsonStream.Frag(vc.length.toString)
              case other => throw new IllegalArgumentException(s"unknown Set field '$other'")
            })))
          }
        case _ =>
          val slot = acts.agg(aggColumn(l))
          () => Json.write(acts.aggregate(slot))
      })
    }
    () => JsonStream.obj(parts.map { case (n, render) => n -> render() })
  }

  /** row(index) { fields } — selection-driven: only the requested columns
    * are gathered (pruned to the scan); no selection returns the full row.
    * Aliased selections respect outName. */
  private def resolveRow(t: GTable, f: GField, index: Long): String = {
    val pruned = if (f.sels.nonEmpty) t.select(f.sels.map(_.name): _*) else t
    val rows = pruned.rowAt(index).result.collect()
    if (rows.isEmpty) "null"
    else if (f.sels.isEmpty) Json.write(rows(0))
    else {
      val row = rows(0)
      Json.obj(f.sels.map(s =>
        s.outName -> Json.write(row.getAs[Any](s.name))))
    }
  }

  // ─── arg helpers ───

  private def litOf(v: GVal): Column = lit(Exprs.scalaOf(v))
  private def strArg(f: GField, name: String): Option[String] =
    f.arg(name).collect { case GStr(s) => s }
  /** seed: argument, default "0". Int literals coerce to their decimal
    * string — seed: 42 and seed: "42" must not silently produce different
    * samples/shuffles. */
  private def seedArg(f: GField): String =
    f.arg("seed").map {
      case GStr(s) => s
      case GInt(i) => i.toString
      case other => throw new IllegalArgumentException(
        s"${f.name} seed: must be a string or int, got $other")
    }.getOrElse("0")
  private def doubleArg(f: GField, name: String): Option[Double] =
    f.arg(name).collect { case GFloat(v) => v; case GInt(v) => v.toDouble }
  /** {stratum: number, ...} argument → Map[String, Double]. */
  private def fractionMap(f: GField, name: String): Map[String, Double] =
    f.arg(name).collect { case GObj(pairs) =>
      pairs.map {
        case (k, GFloat(d)) => k -> d
        case (k, GInt(i)) => k -> i.toDouble
        case (k, other) => throw new IllegalArgumentException(
          s"$name entry '$k' must be a number, got $other")
      }.toMap
    }.getOrElse(throw new IllegalArgumentException(s"needs $name: {stratum: number, ...}"))
  private def intArg(f: GField, name: String): Option[Int] =
    f.arg(name).collect { case GInt(v) => v.toInt }
  private def longArg(f: GField, name: String): Option[Long] =
    f.arg(name).collect { case GInt(v) => v }
  private def strListArg(f: GField, name: String): Seq[String] =
    f.arg(name).toSeq.flatMap {
      case GList(items) => items.map {
        case GStr(s) => s
        case other => throw new IllegalArgumentException(
          s"$name entries must be strings, got $other")
      }
      case GStr(s) => Seq(s)
      case other => throw new IllegalArgumentException(
        s"$name must be a string or list of strings, got $other")
    }
}
