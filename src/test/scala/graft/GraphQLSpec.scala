package graft

import graft.graphql.{GraphQLService, Parser}

class GraphQLSpec extends SparkSpec {

  lazy val service = new GraphQLService(spark, sf)

  test("parser handles aliases, args, nesting, comments") {
    val doc = Parser.parse(
      """# comment
        query { a: lineitem { filter(l_quantity: {ge: 30.5}, l_returnflag: {isin: ["A","R"]}) {
          count } } }""")
    val root = doc.sels.head
    assert(root.outName == "a" && root.name == "lineitem")
    val filter = root.sels.head
    assert(filter.args.map(_._1) == Seq("l_quantity", "l_returnflag"))
  }

  test("count / filter / any end-to-end") {
    val r = service.execute(
      """{ nation { count filter(n_regionkey: {eq: 0}) { count any } } }""")
    assert(r.contains(""""count":25"""))
    assert(r.contains(""""any":true"""))
  }

  test("slice respects natural order; row returns scalars") {
    val r = service.execute("""{ nation { slice(offset: 2, limit: 1) {
      columns { n_nationkey { values } } } row(index: 2) } }""")
    // row(2) and slice(2,1) must agree on the key
    val key = """"n_nationkey":\{"values":\[(\d+)\]""".r.findFirstMatchIn(r).get.group(1)
    assert(r.contains(s""""n_nationkey":$key"""))
  }

  test("group with aggregate and counts") {
    val r = service.execute(
      """{ orders { group(by: ["o_orderstatus"], counts: "n",
           aggregate: {sum: [{name: "o_totalprice", alias: "total"}]}) {
           columns { o_orderstatus { values } n { values } total { values } } } } }""")
    assert(r.contains(""""o_orderstatus":{"values":["""))
    assert(r.contains(""""total":{"values":["""))
    assert(r.contains(""""n":{"values":["""))
  }

  test("arg_max underscore spelling computes max_by, not min_by") {
    def ks(r: String): String =
      """"k":\{"values":\[([^\]]*)\]""".r.findFirstMatchIn(r).get.group(1)
    val underscored = service.execute(
      """{ orders { group(by: ["o_orderstatus"], aggregate: {
           arg_max: [{name: "o_orderkey", key: "o_totalprice", alias: "k"}]}) {
           order(by: ["o_orderstatus"]) {
           columns { o_orderstatus { values } k { values } } } } } }""")
    val camel = service.execute(
      """{ orders { group(by: ["o_orderstatus"], aggregate: {
           argmax: [{name: "o_orderkey", key: "o_totalprice", alias: "k"}]}) {
           order(by: ["o_orderstatus"]) {
           columns { o_orderstatus { values } k { values } } } } } }""")
    val mins = service.execute(
      """{ orders { group(by: ["o_orderstatus"], aggregate: {
           argmin: [{name: "o_orderkey", key: "o_totalprice", alias: "k"}]}) {
           order(by: ["o_orderstatus"]) {
           columns { o_orderstatus { values } k { values } } } } } }""")
    assert(ks(underscored) == ks(camel), "arg_max must equal argMax")
    assert(ks(underscored) != ks(mins), "arg_max must not fall through to argmin")
  }

  test("ordered collect with where drops filtered rows, not nulls them") {
    val r = service.execute(
      """{ orders { group(by: ["o_orderstatus"], aggregate: {
           collect: [{name: "o_orderkey", alias: "ids",
                      order_by: ["-o_orderkey"],
                      where: {lt: [{name: "o_orderkey"}, {value: 10}]}}]}) {
           order(by: ["o_orderstatus"]) {
           columns { o_orderstatus { values } ids { values } } } } } }""")
    val arrays = """"ids":\{"values":\[(.*?)\]\}""".r
      .findAllMatchIn(r).map(_.group(1)).toSeq
    assert(arrays.nonEmpty, r.take(300))
    // the filtered-out rows must vanish entirely — the old struct-shell bug
    // kept them as leading nulls after the desc reverse
    assert(!arrays.exists(_.contains("null")), r.take(500))
    // contents must be the <10 keys, descending
    val all = arrays.flatMap(_.split("\\],\\[")).mkString(",")
      .split(",").filter(_.nonEmpty).map(_.replaceAll("[\\[\\]]", "").toLong)
    assert(all.forall(_ < 10), all.mkString(","))
  }

  test("columns batch aggregates in one pass") {
    val r = service.execute(
      """{ lineitem { columns { l_quantity { min max mean count } } } }""")
    assert(r.contains(""""min":1.0""") && r.contains(""""max":50.0"""))
  }

  test("order with limit and desc keys") {
    val r = service.execute(
      """{ orders { order(by: ["-o_totalprice"], limit: 3) {
           columns { o_totalprice { values } } } } }""")
    val vals = """"o_totalprice":\{"values":\[([^\]]*)\]""".r.findFirstMatchIn(r).get.group(1)
      .split(",").map(_.toDouble)
    assert(vals.length == 3 && vals.sameElements(vals.sorted.reverse))
  }

  test("distinct keep=first with counts") {
    val r = service.execute(
      """{ orders { distinct(on: ["o_orderstatus"], counts: "n") { count } } }""")
    assert(r.contains(""""count":3"""))
  }

  test("schema reflection and sdl") {
    val r = service.execute("""{ region { schema { names types } } }""")
    assert(r.contains(""""names":["r_regionkey","r_name"]"""))
    val sdl = service.sdl
    assert(sdl.contains("type Query {") && sdl.contains("lineitem: Lineitem"))
    assert(sdl.contains("l_orderkey: BigInt"))
  }

  test("serve cap: values-class leaves past spark.graft.serve.maxValues error with slice guidance") {
    spark.conf.set("spark.graft.serve.maxValues", "10")
    try {
      val e = intercept[IllegalArgumentException](service.execute(
        "{ lineitem { columns { l_orderkey { values } } } }"))
      assert(e.getMessage.contains("slice") && e.getMessage.contains("10"),
        s"cap error must instruct slicing, got: ${e.getMessage}")
      // distinct Set leaves materialize the group list — same guard
      intercept[IllegalArgumentException](service.execute(
        "{ lineitem { columns { l_orderkey { distinct { values } } } } }"))
      // aggregates never materialize rows: unaffected by the cap
      assert(service.execute(
        "{ lineitem { columns { l_quantity { sum } } } }").contains("sum"))
      // an explicit slice under the cap serves normally
      val ok = service.execute(
        "{ lineitem { slice(offset: 0, limit: 5) { columns { l_orderkey { values } } } } }")
      assert(""""values":\[(-?\d+,){4}-?\d+\]""".r.findFirstIn(ok).nonEmpty,
        s"sliced values must serve under the cap: $ok")
      // a multi-column selection collects its value leaves in ONE action:
      // the cap guards that action and names its first value column
      val two = intercept[IllegalArgumentException](service.execute(
        "{ lineitem { columns { l_quantity { sum } l_orderkey { values } l_partkey { values } } } }"))
      assert(two.getMessage.contains("'l_orderkey'") && two.getMessage.contains("10") &&
        two.getMessage.contains("slice"), s"two-column cap error: ${two.getMessage}")
      val twoOk = service.execute("""{ lineitem { slice(offset: 0, limit: 5) {
        columns { l_orderkey { values } l_partkey { values } } } } }""")
      assert(""""l_partkey":\{"values":\[(-?\d+,){4}-?\d+\]""".r.findFirstIn(twoOk).nonEmpty,
        s"sliced two-column values must serve under the cap: $twoOk")
      // under-cap answers are byte-identical to the uncapped ones
      spark.conf.set("spark.graft.serve.maxValues", "1000")
      def noTiming(s: String) = s.replaceAll(""""timing_ms":\{[^}]*\}""", "")
      val q1 = "{ nation { columns { n_nationkey { values } } } }"
      val q2 = "{ nation { columns { n_nationkey { values } n_name { values } } } }"
      val capped = Seq(q1, q2).map(service.execute)
      spark.conf.unset("spark.graft.serve.maxValues")
      val uncapped = Seq(q1, q2).map(service.execute)
      assert(capped.map(noTiming) == uncapped.map(noTiming),
        "a cap above the row count must change nothing")
    } finally spark.conf.unset("spark.graft.serve.maxValues")
  }

  /** The `"columns":{...}` object of a response, byte for byte. */
  private def columnsJson(resp: String): String = {
    val start = resp.indexOf("\"columns\":") + "\"columns\":".length
    require(start >= "\"columns\":".length, s"no columns object in $resp")
    var depth = 0; var i = start; var inStr = false
    do {
      resp(i) match {
        case '\\' if inStr => i += 1
        case '"' => inStr = !inStr
        case '{' if !inStr => depth += 1
        case '}' if !inStr => depth -= 1
        case _ =>
      }
      i += 1
    } while (depth > 0)
    resp.substring(start, i)
  }

  test("columns{}: one mixed selection equals one request per column, byte for byte") {
    // (table path, one column selection per entry): each shape is served
    // once as ONE columns{} and once as one request per column
    val shapes = Seq(
      """lineitem { s: slice(offset: 3, limit: 40) {""" -> Seq(
        """l_quantity { v: values dropNull sum quantile(q: [0.25, 0.5]) first last type }""",
        """l_returnflag { values fillNull(value: "X") distinct { values counts length }
           first last type ... on FloatColumn { sum } }""",
        """q: l_quantity { ... on FloatColumn { s: sum max } ... on StringColumn { min } }""",
        """l_shipdate { values first }"""),
      """embeddings { s: slice(offset: 2, limit: 3) {""" -> Seq(
        """embedding { length unnest { values sum count } type }""",
        """vec_id { values first last mean }""",
        """label { dropNull fillNull(value: 0) sum }"""),
      """orders { o: order(by: ["-o_totalprice", "o_orderkey"], limit: 30) {""" -> Seq(
        """o_totalprice { values first last sum quantile(q: 0.5) }""",
        """o_orderstatus { values distinct { values counts } type }""",
        """k: o_orderkey { values dropNull fillNull(value: 0) min max }"""),
      """orders { g: group(by: ["o_orderstatus"], counts: "n",
           aggregate: {sum: [{name: "o_totalprice", alias: "total"}]}) {""" -> Seq(
        """o_orderstatus { values first last type }""",
        """n { values sum quantile(q: [0.5]) }""",
        """total { values dropNull fillNull(value: 0.0) mean }"""))
    for ((path, cols) <- shapes) {
      def query(sel: Seq[String]) = s"{ $path columns { ${sel.mkString(" ")} } } } }"
      val mixed = columnsJson(service.execute(query(cols)))
      val perColumn = cols.map(c => columnsJson(service.execute(query(Seq(c)))))
      assert(mixed == perColumn.map(_.drop(1).dropRight(1)).mkString("{", ",", "}"),
        s"$path: mixed selection diverged\n mixed: $mixed\n  per column: $perColumn")
    }
  }

  test("served execution budget: the serve_mixed request shapes on a warm index") {
    // one Spark execution per served leaf selection; ann_ivf's second is
    // ivfProbe's collect of the probed centroid ids
    val shapes = Seq(
      ("agg", 1, """{ lineitem { group(by: ["l_returnflag"], counts: "n",
        aggregate: {sum: [{name: "l_quantity", alias: "qty"}]}) {
        o: order(by: ["l_returnflag"]) { columns { l_returnflag { values } n { values } qty { values } } } } } }"""),
      ("filter", 1, """{ orders { filter(o_totalprice: {ge: 100000.0}) { count } } }"""),
      ("search", 1, """{ documents { s: search(terms: ["join", "filter"], on: "text",
        id: "doc_id") { count } } }"""),
      ("bm25", 1, """{ documents { s: search(terms: ["join", "filter"], on: "text",
        id: "doc_id", k: 20) { o: order(by: ["rank"]) { columns { doc_id { values } rank { values } } } } } }"""),
      ("bm25filt", 1, """{ documents { f: filter(lang: {eq: "en"}) { s: search(terms: ["hash", "table"],
        on: "text", id: "doc_id", k: 20, corpus: "documents") { o: order(by: ["rank"]) {
        columns { doc_id { values } rank { values } } } } } } }"""),
      ("ann_ivf", 2, """{ embeddings { nearest(on: "embedding", id: "vec_id", ids: [0, 1, 2], k: 5,
        method: "IVF", nlist: 16, nprobe: 6) { o: order(by: ["query_id", "rank"]) {
        columns { query_id { values } neighbor_id { values } rank { values } } } } } }"""),
      ("leaf", 1, """{ lineitem { s: slice(offset: 0, limit: 20000) { columns {
        l_orderkey { values } l_extendedprice { values } l_shipdate { values } } } } }"""),
      ("cold", 1, """{ documents { m: project(columns: [{alias: "m", mod: [{name: "doc_id"}, {value: 1}]}]) {
        f: filter(m: {eq: 0}) { s: search(terms: ["join", "filter"], on: "text",
        id: "doc_id", k: 10) { o: order(by: ["rank"]) {
        columns { doc_id { values } rank { values } } } } } } } }"""))
    // warm: index builds and root row ids are paid once, not per request
    shapes.foreach { case (_, _, q) => service.execute(q) }
    val got = shapes.map { case (kind, _, q) =>
      kind -> org.apache.spark.sql.graft.Executions.count(spark) { service.execute(q); () } }
    assert(got == shapes.map { case (kind, n, _) => kind -> n },
      s"SQL executions per request: $got")
  }

  test("cap drops surface in response extensions; clean requests omit them") {
    // 40 identical texts via the sql root: one hot bucket per band; the
    // request-scoped maxBucket: 10 trips the cap, and the response carries
    // the dropped bucket/row counts instead of burying them in logs
    val r = service.execute(
      """{ s: sql(query: "SELECT o_orderkey AS doc_id, 'boilerplate cookie banner text accept terms' AS text FROM orders LIMIT 40") {
           d: nearDedup(on: "text", id: "doc_id", maxBucket: 10) { count } } }""")
    assert(r.contains(""""cap_drops""""), s"expected cap_drops extension: $r")
    // exact: 40 identical docs fill one bucket in each of the 16 bands —
    // 16 buckets, 640 banded rows, counted once although both self-join
    // sides are metered and the executor collects the request's drops
    assert(r.contains(""""buckets":16""") && r.contains(""""rows":640"""),
      s"expected 16 dropped buckets / 640 rows: $r")
    // the md5 family caps the same buckets and records under its own op
    val m = service.execute(
      """{ s: sql(query: "SELECT o_orderkey AS doc_id, 'boilerplate cookie banner text accept terms' AS text FROM orders LIMIT 40") {
           d: nearDedup(on: "text", id: "doc_id", maxBucket: 10, hash: "md5") { count } } }""")
    assert(m.contains(""""cap_drops":{"minhashPairsMd5":{"buckets":16,"rows":640}}"""),
      s"expected minhashPairsMd5 drops of 16 buckets / 640 rows: $m")
    // a request whose caps drop nothing serves NO cap_drops key
    val clean = service.execute("{ nation { count } }")
    assert(!clean.contains("cap_drops"))
  }

  test("search and tokenBudget serve with validated args") {
    // served search agrees with the library full-scan recompute
    val r = service.execute(
      """{ documents { s: search(terms: ["join", "filter"], on: "text",
           id: "doc_id") { count } } }""")
    val expected = graft.operators.TextSearch.search(
      graft.operators.TextSearch.textIndexFor(
        spark.read.parquet(s"$sf/documents.parquet"), "gqlspec-docs",
        "text", "doc_id",
        java.nio.file.Files.createTempDirectory("graft_gql_tx").toString),
      spark.read.parquet(s"$sf/documents.parquet"),
      Seq("join", "filter")).count()
    assert(r.contains(s""""count":$expected"""), r)
    // tokenBudget with a precomputed counts: column (no text pass)
    val tb = service.execute(
      """{ documents { h: tokenBudget(budget: 2000, counts: "n_chars",
           id: "doc_id", seed: "1") {
           c: columns { tokens_before { max } } count } } }""")
    assert(!tb.contains("\"errors\""), tb)
    assert("\"max\":(\\d+)".r.findFirstMatchIn(tb).get.group(1).toLong < 2000L)
    // filter -> search(corpus:) probes the ROOT index and still returns
    // only the filtered table's matches (search commutes with row filters)
    val filtered = service.execute(
      """{ documents { f: filter(where: {eq: [{mod: [{name: "doc_id"},
           {value: 2}]}, {value: 0}]}) {
           s: search(terms: ["join", "filter"], on: "text", id: "doc_id",
                     corpus: "documents") { count } } } }""")
    val expEven = graft.operators.TextSearch.search(
      graft.operators.TextSearch.textIndexFor(
        spark.read.parquet(s"$sf/documents.parquet"), "gqlspec-docs2",
        "text", "doc_id",
        java.nio.file.Files.createTempDirectory("graft_gql_tx2").toString),
      spark.read.parquet(s"$sf/documents.parquet")
        .filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 0),
      Seq("join", "filter")).count()
    assert(filtered.contains(s""""count":$expEven"""), filtered)
    // arg contracts fail loudly
    intercept[IllegalArgumentException](service.execute(
      """{ documents { s: search(on: "text", id: "doc_id") { count } } }"""))
    intercept[IllegalArgumentException](service.execute(
      """{ documents { h: tokenBudget(budget: 10, id: "doc_id") { count } } }"""))
    // conflicting search modes are rejected BEFORE any index build
    // (k: + corpus: is NOT a conflict since round 11 — it is the
    // rank-then-verify contract, gated by q_gql_bm25_filtered)
    for (q <- Seq(
        """search(terms: ["a"], phrase: ["b"], on: "text", id: "doc_id")""",
        """search(phrase: ["a", "b"], on: "text", id: "doc_id", k: 5)""",
        """search(terms: ["a"], on: "text", id: "doc_id", k: 5, minMatch: 1)"""))
      intercept[IllegalArgumentException](service.execute(
        s"""{ documents { s: $q { count } } }"""))
  }

  test("one text tree per corpus: membership, phrase, k: and filter → k:/corpus: share one build") {
    import org.apache.spark.sql.functions.col
    import graft.operators.TextSearch
    TextSearch.invalidateAllTextIndexes()
    val svc = new GraphQLService(spark, sf)
    val builds0 = TextSearch.textBuildCount.get()
    def ids(r: String): Seq[Long] = {
      assert(!r.contains("\"errors\""), r)
      """"doc_id":\{"values":\[([^\]]*)\]""".r.findFirstMatchIn(r)
        .getOrElse(fail(s"no doc_id values in $r")).group(1)
        .split(",").filter(_.nonEmpty).map(_.toLong).toSeq
    }
    val count = svc.execute(
      """{ documents { s: search(terms: ["join", "filter"], on: "text",
           id: "doc_id") { count } } }""")
    val bm25 = ids(svc.execute(
      """{ documents { s: search(terms: ["join", "filter"], on: "text", id: "doc_id",
           k: 10) { o: order(by: ["rank"]) { columns { doc_id { values } } } } } }"""))
    val phrase = ids(svc.execute(
      """{ documents { s: search(phrase: ["table", "hash"], on: "text", id: "doc_id") {
           o: order(by: ["doc_id"]) { columns { doc_id { values } } } } } }"""))
    val within = ids(svc.execute(
      """{ documents { f: filter(lang: {eq: "en"}) { s: search(terms: ["hash", "table"],
           on: "text", id: "doc_id", k: 10, corpus: "documents") {
           o: order(by: ["rank"]) { columns { doc_id { values } } } } } } }"""))
    assert(TextSearch.textBuildCount.get() == builds0 + 1)
    val trees = new java.io.File(svc.indexDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("tx_"))
    assert(trees.length == 1, trees.toSeq)
    // the answers of a tree built outside the service
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val ref = TextSearch.textIndexBuild(docs, "text", "doc_id",
      java.nio.file.Files.createTempDirectory("graft_gql_onetree").toString)
    def rankedIds(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.orderBy("rank").collect().map(_.getLong(0)).toSeq
    assert(count.contains(s""""count":${TextSearch.searchIds(ref,
      Seq("join", "filter")).count()}"""), count)
    assert(bm25.nonEmpty && bm25 == rankedIds(
      TextSearch.rankedSearch(ref, Seq("join", "filter"), 10)))
    assert(phrase.nonEmpty && phrase ==
      TextSearch.phraseIds(ref, Seq("table", "hash")).collect().map(_.getLong(0)).sorted.toSeq)
    assert(within.nonEmpty && within == rankedIds(TextSearch.rankedSearchWithin(ref,
      Seq("hash", "table"), 10, docs.filter(col("lang") === "en"), "doc_id")))
    TextSearch.invalidateAllTextIndexes()
  }

  test("unknown table and field produce errors") {
    intercept[IllegalArgumentException](service.execute("{ nope { count } }"))
    intercept[IllegalArgumentException](service.execute("{ nation { bogus } }"))
  }

  test("textStats serves metric groups and rejects unknown ones") {
    val r = service.execute(
      """{ documents { f: textStats(on: "text", metrics: ["lang", "gopher"]) {
           schema { names } } } }""")
    for (c <- Seq("pred_lang", "mean_word_len", "alpha_word_frac",
        "symbol_word_ratio", "stopword_hits"))
      assert(r.contains(c), s"missing served metric column $c")
    // default group is quality
    val q = service.execute(
      """{ documents { f: textStats(on: "text") { schema { names } } } }""")
    assert(q.contains("quality") && q.contains("type_token_ratio"))
    intercept[IllegalArgumentException](service.execute(
      """{ documents { f: textStats(on: "text", metrics: ["bogus"]) {
           count } } }"""))
    intercept[IllegalArgumentException](service.execute(
      """{ documents { f: textStats(metrics: ["lang"]) { count } } }"""))
  }

  test("textStats composes mid-pipeline: filter -> stats -> group over a metric") {
    val r = service.execute(
      """{ documents {
           w: filter(lang: {eq: "en"}) {
             s: textStats(on: "text", metrics: ["lang"]) {
               g: group(by: ["pred_lang"], counts: "n") {
                 c: columns { pred_lang { values } n { values } } } } } } }""")
    // grouping keys are the derived metric — executing proves the derived
    // column participates in downstream aggregation like any native column
    assert(r.contains("\"pred_lang\":{\"values\":["), r)
    assert(r.contains("\"n\":{\"values\":["), r)
  }

  test("pack requires natural row order (rejects post-sort placement)") {
    intercept[IllegalArgumentException](service.execute(
      """{ documents { o: order(by: ["lang"]) {
           f: pack(on: "text", id: "doc_id", budget: 100) { count } } } }"""))
    // on the root it works and bins are contiguous
    val r = service.execute(
      """{ documents { f: pack(on: "text", id: "doc_id", budget: 100000) {
           c: columns { n_docs { values } } } } }""")
    assert(r.contains("\"n_docs\""))
    // after FILTER it also works (round 10: the block prefix-sum only
    // needs the rid as an ordered key — sparse positions pack fine)
    val rf = service.execute(
      """{ documents { w: filter(lang: {eq: "en"}) {
           f: pack(on: "text", id: "doc_id", budget: 100000) {
           c: columns { n_docs { values } } } } } }""")
    assert(rf.contains("\"n_docs\""), rf)
    // after a JOIN (no rid at all) it still rejects
    intercept[IllegalArgumentException](service.execute(
      """{ documents { j: join(table: "documents", on: ["doc_id"]) {
           f: pack(on: "text", id: "doc_id", budget: 100) { count } } } }"""))
  }

  test("project with expression tree") {
    val r = service.execute(
      """{ lineitem { project(columns: [
           {alias: "rev", mul: [{name: "l_extendedprice"},
                                {sub: [{value: 1}, {name: "l_discount"}]}]},
           {alias: "bulk", ge: [{name: "l_quantity"}, {value: 30}]}]) {
           filter(bulk: {eq: true}) { count } } } }""")
    assert(""""count":(\d+)""".r.findFirstMatchIn(r).get.group(1).toInt > 0)
  }

  test("join against another root") {
    val r = service.execute(
      """{ orders { join(right: "customer", keys: ["o_custkey"],
           rkeys: ["c_custkey"], how: "inner") { count } } }""")
    assert(r.contains(""""count":1500"""))
  }

  test("column distinct Set: values + counts pair") {
    val r = service.execute(
      """{ orders { columns { o_orderstatus { distinct { values counts length } } } } }""")
    assert(r.contains(""""values":["F","O","P"]"""))
    assert(r.contains(""""length":3"""))
    val counts = """"counts":\[([^\]]*)\]""".r.findFirstMatchIn(r).get.group(1)
      .split(",").map(_.toLong)
    assert(counts.sum == 1500L)
  }

  test("asofJoin field: nearest prior order per event user is joined") {
    val r = service.execute(
      """{ events { asofJoin(right: "events", on: "ts", keys: ["user_id"]) {
           count } } }""")
    val n = """"count":(\d+)""".r.findFirstMatchIn(r).get.group(1).toLong
    assert(n == 1000L) // left-join semantics: one row per left event
  }

  test("_service { sdl } federation reflection") {
    val r = service.execute("""{ _service { sdl } }""")
    assert(r.contains("type Query") && r.contains("lineitem: Lineitem"))
  }

  test("order then filter keeps the explicit sort in values") {
    val r = service.execute(
      """{ orders { order(by: ["-o_totalprice"], limit: 10) {
           filter(o_orderstatus: {eq: "F"}) {
           columns { o_totalprice { values } } } } } }""")
    val vals = """"o_totalprice":\{"values":\[([^\]]*)\]""".r
      .findFirstMatchIn(r).get.group(1).split(",").filter(_.nonEmpty).map(_.toDouble)
    assert(vals.sameElements(vals.sorted.reverse))
  }

  test("optional stops error propagation for partial results") {
    val r = service.execute("""{ nation { count optional { bogus } } }""")
    assert(r.contains(""""count":25""") && r.contains(""""optional":null"""))
  }

  test("window block: 0-based row number, lag, cumulative sum") {
    val r = service.execute(
      """{ events { window(over: ["user_id"], by: ["ts"],
           rowNumber: "rn0",
           lag: [{name: "value", offset: 1, default: 0.0, alias: "prev"}],
           sum: [{name: "value", alias: "running"}]) {
           filter(rn0: {eq: 0}) { count } } } }""")
    // one rank-0 row per user
    val n = """"count":(\d+)""".r.findFirstMatchIn(r).get.group(1).toInt
    assert(n > 0 && n <= 150)
  }

  test("window ranks over a partition column with nulls: the same rows above the flip") {
    // every fourth event lands in the null partition; rowNumber keeps the
    // ranking off the counts strategy, so the flip reaches GTable.rankings
    val q =
      """{ events { project(columns: [{alias: "grp", ifelse: [
           {eq: [{mod: [{name: "event_id"}, {value: 4}]}, {value: 0}]},
           {value: null}, {name: "event_type"}]}]) {
           window(over: ["grp"], by: ["ts"], rank: "rk", rowNumber: "rn") {
           order(by: ["event_id"]) { count
           columns { event_id { values } grp { values } rk { values } rn { values } }
           } } } } }"""
    def data(r: String) = r.replaceAll(""""timing_ms":\{[^}]*\}""", "")
    val plain = data(service.execute(q))
    assert(""""grp":\{"values":\[[^\]]*null""".r.findFirstIn(plain).nonEmpty, plain.take(300))
    assert(plain.contains(""""count":1000"""), plain.take(300))
    spark.conf.set("spark.graft.rankings.flipRows", "1")
    val flipped = try data(service.execute(q))
      finally spark.conf.unset("spark.graft.rankings.flipRows")
    assert(flipped == plain)
  }

  test("toSql emits runnable SQL along the operator fold") {
    val r = service.execute(
      """{ lineitem { filter(l_returnflag: {eq: "A"}, l_quantity: {ge: 30}) {
           group(by: ["l_linestatus"], counts: "n",
                 aggregate: {sum: [{name: "l_quantity", alias: "qty"}]}) {
             order(by: ["l_linestatus"]) { toSql count } } } } }""")
    val sql = """"toSql":"([^"]+)"""".r.findFirstMatchIn(r).get.group(1)
    assert(sql.contains("GROUP BY l_linestatus") && sql.contains("WHERE"))
    // the emitted SQL must actually run (Spark SQL) and agree with count
    graft.core.Tables.load(spark, sf, "lineitem").createOrReplaceTempView("lineitem")
    val viaSql = spark.sql(sql).count()
    val n = """"count":(\d+)""".r.findFirstMatchIn(r).get.group(1).toLong
    assert(viaSql == n)
  }

  test("toSql errors after a non-SQL-expressible operator") {
    intercept[IllegalArgumentException](
      service.execute("""{ lineitem { take(indices: [0, 1]) { toSql } } }"""))
  }

  test("explain surfaces the physical plan with pushdown evidence; bad mode errors") {
    val r = service.execute(
      """{ lineitem { filter(l_returnflag: {eq: "A"}) {
           e: explain(mode: "formatted") } } }""")
    val plan = """"e":"(.*)"\}""".r.findFirstMatchIn(r).get.group(1)
    // the filter must reach the parquet scan, and the formatted mode must
    // show the physical operator list a plan-tuning operator reads
    assert(plan.contains("PushedFilters") && plan.contains("l_returnflag"))
    assert(plan.contains("Scan parquet"))
    val r2 = service.execute("""{ nation { e: explain(mode: "simple") } }""")
    assert(r2.contains("Scan parquet"))
    intercept[IllegalArgumentException](
      service.execute("""{ nation { explain(mode: "bogus") } }"""))
  }

  test("first (rank top-k keeping ties), unnest, runs, plan, timings") {
    val r1 = service.execute(
      """{ lineitem { first(by: ["l_quantity"], rank: 1) { count } } }""")
    assert(""""count":(\d+)""".r.findFirstMatchIn(r1).get.group(1).toInt >= 1)
    val r2 = service.execute("""{ events { runs(by: ["event_type"], counts: "n") { count } } }""")
    assert(""""count":(\d+)""".r.findFirstMatchIn(r2).get.group(1).toInt > 1)
    val r3 = service.execute("""{ nation { plan } }""")
    assert(r3.contains("Relation") || r3.contains("Project"))
    assert(r3.contains(""""timing_ms""""))
  }

  test("filter notin and ne-list exclude; isin keeps") {
    val r = service.execute(
      """{ nation { a: filter(n_regionkey: {notin: [0, 1]}) { count }
                   b: filter(n_regionkey: {ne: [0, 1]}) { count }
                   c: filter(n_regionkey: {eq: [0, 1]}) { count } } }""")
    val counts = """"count":(\d+)""".r.findAllMatchIn(r).map(_.group(1).toInt).toSeq
    assert(counts(0) == counts(1))       // notin == ne-list
    assert(counts(0) + counts(2) == 25)  // complement of eq-list (isin)
  }

  test("typed scalar literals: date, decimal, duration arithmetic") {
    val r = service.execute(
      """{ orders { filter(where: {ge: [{name: "o_orderdate"},
            {scalar: {datetime: "1995-01-01T00:00:00"}}]}) { count } } }""")
    val n = """"count":(\d+)""".r.findFirstMatchIn(r).get.group(1).toInt
    assert(n > 0)
    val r2 = service.execute(
      """{ orders { slice(limit: 5) { project(columns: [{alias: "later",
            add: [{name: "o_orderdate"}, {scalar: {duration: "P1M2DT3H"}}]}]) {
          columns { later { values } } } } } }""")
    assert(r2.contains(""""later":{"values":["""))
  }

  test("array expression block over a split column") {
    val r = service.execute(
      """{ customer { slice(limit: 3) {
            project(columns: [{alias: "parts", string: {split: [{name: "c_name"}, {value: "#"}]}}]) {
              project(columns: [
                {alias: "np", array: {length: {name: "parts"}}},
                {alias: "first_part", array: {value: {name: "parts"}, offset: 0}},
                {alias: "joined", array: {join: {name: "parts"}, sep: "-"}}]) {
                columns { np { values } first_part { values } joined { values } } } } } } }""")
    assert(r.contains(""""np":{"values":[""") && r.contains(""""joined""""))
  }

  test("unpack spreads struct fields; difference field subtracts") {
    val r = service.execute(
      """{ customer { f: filter(c_custkey: {le: 100}) {
            d: difference(right: ["customer"]) { count } } } }""")
    assert(r.contains(""""count":0"""))
  }

  test("group order is opt-in first_seen") {
    val r = service.execute(
      """{ events { group(by: ["event_type"], counts: "n", order: FIRST_SEEN) {
            columns { event_type { values } } } } }""")
    // first-seen order = order of first occurrence in the file
    val vals = """"event_type":\{"values":\[([^\]]*)\]""".r.findFirstMatchIn(r).get.group(1)
    assert(vals.nonEmpty)
  }

  test("duration scalar round-trips through parse + serialize") {
    import graft.graphql.{Exprs, Json}
    // month-day-nano (reference scalars.py:25-56 + tests/test_core.py:16-31)
    for (iso <- Seq("P1M2DT3H", "P0M3DT4H", "PT3H", "P2D", "PT0.5S", "P1Y2M")) {
      val v = spark.range(1).select(Exprs.durationLit(iso)).collect()(0).get(0)
      val out = Json.write(v)
      val normalized = if (iso == "P1Y2M") "\"P14M\"" else s""""$iso""""
      assert(out == normalized, s"$iso -> $out")
    }
  }

  test("per-type column leaves: quantile list, dropNull, fillNull, any/all, unnest, length") {
    val r = service.execute(
      """{ customer { slice(limit: 50) { columns {
            c_acctbal { q: quantile(q: [0.25, 0.75]) std var }
          } } } }""")
    assert(""""q":\[[-0-9.,]+\]""".r.findFirstIn(r).nonEmpty, r.take(300))
    val r2 = service.execute(
      """{ orders { slice(limit: 20) {
            project(columns: [{alias: "st",
              ifelse: [{eq: [{name: "o_orderstatus"}, {value: "O"}]},
                       {value: null}, {name: "o_orderstatus"}]}]) {
            columns { st { type values dropNull fillNull(value: "zz") } } } } } }""")
    assert(r2.contains(""""type":"string""""))
    assert(!r2.split("\"dropNull\":")(1).split("]")(0).contains("null"))
    assert(r2.contains("zz"))
    val r3 = service.execute(
      """{ customer { slice(limit: 5) {
            project(columns: [{alias: "parts",
              string: {split: [{name: "c_name"}, {value: "#"}]}}]) {
            columns { parts { length unnest { count values } } } } } } }""")
    assert(r3.contains(""""length":[""") && r3.contains(""""count":"""))
    val r4 = service.execute(
      """{ orders { slice(limit: 20) {
            project(columns: [{alias: "big",
              gt: [{name: "o_totalprice"}, {value: 100000}]}]) {
            columns { big { any all } } } } } }""")
    assert(r4.contains(""""any":true""") && r4.contains(""""all":false"""))
  }

  test("struct column names/types leaves") {
    val r = service.execute(
      """{ customer { slice(limit: 3) {
            project(columns: [{alias: "s", ifelse: [{value: true},
              {name: "c_custkey"}, {name: "c_custkey"}]}]) { count } } } }""")
    assert(r.contains(""""count":3"""))
    val r2 = service.execute(
      """{ events { slice(limit: 3) { columns { props { type } } } } }""")
    assert(r2.contains(""""type":"string""""))
  }

  test("federation: _entities resolves by @key; sdl carries the directive") {
    import graft.graphql.GraphQLService
    val fed = new GraphQLService(spark, sf,
      keys = Map("nation" -> Seq("n_nationkey"), "orders" -> Seq("o_orderkey")))
    assert(fed.sdl.contains("""type Nation @key(fields: "n_nationkey")"""))
    val r = fed.execute(
      """{ _entities(representations: {__typename: "Nation", n_nationkey: 3}) {
           ... on Nation { count row { n_name } } } }""")
    assert(r.contains(""""count":1"""))
    assert(""""n_name":"[^"]+"""".r.findFirstIn(r).nonEmpty)
    val r2 = fed.execute(
      """{ _entities(representations: [{__typename: "Nation", n_nationkey: 1},
                                       {__typename: "Nation", n_nationkey: 2}]) {
           ... on Nation { count } } }""")
    assert(r2.contains("""[{"count":1},{"count":1}]"""))
  }

  test("fragment type conditions: mixed-type _entities batches and typed columns") {
    import graft.graphql.GraphQLService
    val fed = new GraphQLService(spark, sf,
      keys = Map("nation" -> Seq("n_nationkey"), "region" -> Seq("r_regionkey")))
    // a mixed batch: each representation must get only ITS fragment's fields
    val r = fed.execute(
      """{ _entities(representations: [{__typename: "Nation", n_nationkey: 3},
                                       {__typename: "Region", r_regionkey: 1}]) {
           ... on Nation { row { n_name } }
           ... on Region { row { r_name } } } }""")
    val entities = """\{"row":\{[^}]*\}\}""".r.findAllIn(r).toSeq
    assert(entities.length == 2, r.take(400))
    assert(entities(0).contains(""""n_name"""") && !entities(0).contains("r_name"),
      r.take(400))
    assert(entities(1).contains(""""r_name"""") && !entities(1).contains("n_name"),
      r.take(400))
    // typed columns: a FloatColumn fragment must not run against a string
    val r2 = service.execute(
      """{ lineitem { slice(limit: 5) { columns {
           l_quantity { ... on FloatColumn { sum } }
           l_returnflag { ... on FloatColumn { sum } count } } } } }""")
    assert(r2.contains(""""sum":"""))
    // the string column answered count but skipped the non-matching sum
    assert(""""l_returnflag":\{"count":\d+\}""".r.findFirstIn(r2).nonEmpty, r2.take(400))
  }

  test("service degrades gracefully on empty filter results") {
    val r = service.execute(
      """{ nation { filter(n_name: {eq: "NO_SUCH_NATION"}) {
           count
           s: slice(limit: 3) { columns { n_name { values } } }
           g: group(by: ["n_regionkey"], counts: "n") { count }
           r: runs(by: ["n_regionkey"], counts: "rn") { count }
           c: columns { n_nationkey { min max count } } } } }""")
    assert(r.contains(""""count":0"""), r.take(400))
    assert(r.contains(""""values":[]"""), r.take(400))
    // aggregates over no rows: SQL null / zero-count semantics
    assert(r.contains(""""min":null""") && r.contains(""""max":null"""), r.take(600))
  }

  test("write sink round-trips: plain, hive-partitioned, sorted-within") {
    import graft.core.{GTable, Tables}
    val t = GTable(Tables.load(spark, sf, "orders"))
    val base = java.nio.file.Files.createTempDirectory("graft_sink").toString
    t.write(s"$base/plain")
    assert(spark.read.parquet(s"$base/plain").count() == t.result.count())
    t.write(s"$base/hive", partitionBy = Seq("o_orderstatus"),
      sortWithin = Seq("o_orderkey"))
    val back = spark.read.parquet(s"$base/hive")
    assert(back.count() == t.result.count())
    // hive layout: one directory per status value
    val dirs = new java.io.File(s"$base/hive").listFiles()
      .filter(_.getName.startsWith("o_orderstatus=")).map(_.getName).toSet
    assert(dirs.size >= 2, dirs.toString)
  }

  test("slice/row/take after filter address CURRENT positions, not stale rids") {
    // reference slices the current table (interface.py:181-183) — a filter
    // must not leave row(0) pointing at the original file positions
    val r = service.execute(
      """{ nation { filter(n_regionkey: {eq: 2}) {
           row(index: 0) slice(offset: 0, limit: 2) { count } } } }""")
    assert(!r.contains(""""row":null"""), r.take(300))
    assert(r.contains(""""count":2"""))
    import graft.core.{GTable, Tables}
    import org.apache.spark.sql.functions.col
    val t = GTable(Tables.loadOrdered(spark, sf, "nation"))
      .filter(col("n_regionkey") === 2)
    val expectFirst = t.df.orderBy(col("_gq_rid")).select("n_nationkey")
      .collect()(0).getInt(0)
    val viaRow = t.rowAt(0).result.select("n_nationkey").collect()(0).getInt(0)
    assert(viaRow == expectFirst)
    val viaTake = t.take(Seq(1L, 0L)).result.select("n_nationkey").collect()
    assert(viaTake(1).getInt(0) == expectFirst) // request order preserved
  }

  test("column(name/cast/index) field and group order column") {
    val r = service.execute(
      """{ nation { column(name: ["n_name"]) { count first } } }""")
    assert(r.contains(""""count":25"""))
    val r2 = service.execute(
      """{ orders { slice(limit: 10) {
           column(name: ["o_totalprice"], cast: "INT") { max type } } } }""")
    assert(r2.contains(""""type":"int""""))
    val r3 = service.execute(
      """{ events { group(by: ["event_type"], counts: "n", order: "ord") {
           columns { event_type { values } ord { values } } } } }""")
    // ord = first-seen 0-based position, ascending because groups are sorted by it
    val ords = """"ord":\{"values":\[([^\]]*)\]""".r.findFirstMatchIn(r3).get.group(1)
      .split(",").map(_.trim.toLong)
    assert(ords.head == 0L && ords.sameElements(ords.sorted))
  }

  test("reference argument forms: cast(schema:), alias-from-name, keep null, unnest order") {
    val r = service.execute(
      """{ nation { cast(schema: {name: "n_nationkey", type: "BIGINT"}) {
           column(name: ["n_nationkey"]) { type } } } }""")
    assert(r.contains(""""type":"bigint""""))
    // bare-name projection aliases itself; name+op is a conflict; no name
    // and no alias errors with the reference's message
    val r2 = service.execute(
      """{ nation { project(columns: {name: "n_name"}) { count } } }""")
    assert(r2.contains(""""count":25"""))
    intercept[IllegalArgumentException](service.execute(
      """{ nation { project(columns: {string: {lower: {name: "n_name"}}}) { count } } }"""))
    intercept[IllegalArgumentException](service.execute(
      """{ nation { project(columns: {name: "n_name", value: 1, alias: "x"}) { count } } }"""))
    val r3 = service.execute("""{ orders { distinct(on: ["o_orderstatus"], keep: null) { count } } }""")
    assert(r3.contains(""""count":3"""))
    val r4 = service.execute(
      """{ customer { slice(limit: 5) {
           project(columns: [{alias: "parts", string: {split: [{name: "c_name"}, {value: "#"}]}}]) {
             unnest(name: "parts", order: "idx") {
               columns { idx { values } } } } } } }""")
    val idx = """"idx":\{"values":\[([^\]]*)\]""".r.findFirstMatchIn(r4).get.group(1)
      .split(",").map(_.trim.toInt)
    assert(idx.sameElements(idx.sorted))
  }

  test("runs with split predicate, aggregate, and order column") {
    val r = service.execute(
      """{ events { runs(split: {window: {gt: {name: "value"}}}, counts: "c", order: "pos") {
           count schema { names } } } }""")
    val n = """"count":(\d+)""".r.findFirstMatchIn(r).get.group(1).toInt
    assert(n > 1)
    assert(r.contains("pos") && r.contains("\"c\""))
    val r2 = service.execute(
      """{ events { runs(by: ["event_type"], aggregate: {mean: {name: "value", alias: "v"}}, counts: "n") {
           count } } }""")
    assert(""""count":(\d+)""".r.findFirstMatchIn(r2).get.group(1).toInt > 1)
    // distinct(order:) exposes the first-seen position column
    val r3 = service.execute(
      """{ orders { distinct(on: ["o_orderstatus"], order: "idx") {
           columns { o_orderstatus { values } idx { values } } } } }""")
    val idx = """"idx":\{"values":\[([^\]]*)\]""".r.findFirstMatchIn(r3).get.group(1)
      .split(",").map(_.trim.toLong)
    assert(idx.head == 0L && idx.sameElements(idx.sorted))
  }

  test("hive-partitioned extra root: partitioning leaf + partition-pruned filter") {
    import graft.core.{GTable, Tables}
    import graft.graphql.GraphQLService
    val dir = java.nio.file.Files.createTempDirectory("graft_hive_root").toString + "/nation"
    GTable(Tables.load(spark, sf, "nation")).write(dir, partitionBy = Seq("n_regionkey"))
    val svc = new GraphQLService(spark, sf, extraRoots = Map("nhive" -> dir))
    val r = svc.execute(
      """{ nhive { schema { partitioning } count
           filter(n_regionkey: {eq: 2}) { count } } }""")
    assert(r.contains(""""partitioning":["n_regionkey"]"""), r.take(300))
    assert(r.contains(""""count":25"""))
    assert(r.contains(""""count":5"""))
  }

  test("hive first narrowing keeps the natural-order serving contract") {
    import graft.core.{Natural, Tables}
    import graft.graphql.GraphQLService
    import org.apache.spark.sql.functions.col
    // multi-file partitions: arbitrary narrowed-scan order would interleave
    // files, so only a real row-id re-attach can serve file order
    val dir = java.nio.file.Files.createTempDirectory("graft_hive_first").toString + "/li"
    Tables.load(spark, sf, "lineitem").repartition(3)
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(dir)
    val svc = new GraphQLService(spark, sf, extraRoots = Map("lihive" -> dir))
    // expected: the un-narrowed ordered root's natural order for the first
    // partition value (the rank-1 group)
    val full = Natural.withRowId(spark, dir)
    val firstFlag = full.select("l_returnflag").orderBy(col("l_returnflag"))
      .limit(1).collect()(0).getString(0)
    val expect = full.filter(col("l_returnflag") === firstFlag)
      .orderBy(col(Natural.rid))
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val r = svc.execute(
      """{ lihive { first(by: ["l_returnflag"]) {
           columns { l_orderkey { values } l_partkey { values } } } } }""")
    def longs(name: String): Seq[Long] =
      (s""""$name":\\{"values":\\[([^\\]]*)\\]""".r.findFirstMatchIn(r).get
        .group(1)).split(",").map(_.trim.toLong).toSeq
    // both columns ride independent collection jobs — natural order keeps
    // them row-aligned AND in file order
    assert(longs("l_orderkey").zip(longs("l_partkey")) == expect,
      "narrowed first must serve the root's natural order")
    // slice after first: positional semantics over the narrowed frame
    val r2 = svc.execute(
      """{ lihive { first(by: ["l_returnflag"]) { slice(offset: 5, limit: 3) {
           columns { l_orderkey { values } } } } } }""")
    val sliced = (""""l_orderkey":\{"values":\[([^\]]*)\]""".r
      .findFirstMatchIn(r2).get.group(1)).split(",").map(_.trim.toLong).toSeq
    assert(sliced == expect.map(_._1).slice(5, 8),
      "slice after narrowed first must follow natural order")
  }

  test("invalid field names are warned and skipped in the SDL (nofields behavior)") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("ok_name", LongType),
      StructField("bad-dash", LongType),
      StructField("0leading", StringType),
      StructField("fragment", StringType))) // reserved word
    val fields = graft.graphql.SchemaGen.typeFields(schema)
    assert(fields.map(_._1) == Seq("ok_name"))
  }

  test("asofJoin tolerance: tight window yields fewer matches") {
    def matched(tol: String): Long = {
      val r = service.execute(
        s"""{ events { asofJoin(right: "events", on: "ts", keys: ["user_id"]$tol) {
             f: filter(ts_right: {ne: null}) { count } } } }""")
      """"count":(\d+)""".r.findFirstMatchIn(r).get.group(1).toLong
    }
    val loose = matched("")
    val tight = matched(""", tolerance: "PT0.001S"""")
    assert(tight <= loose)
    assert(tight > 0) // self-join at equal timestamps always matches
  }

  test("row selection prunes to requested fields with aliases") {
    val r = service.execute(
      """{ nation { row(index: 1) { key: n_nationkey n_name } } }""")
    val rowJson = """"row":(\{[^}]*\})""".r.findFirstMatchIn(r).get.group(1)
    assert(rowJson.contains(""""key":"""))
    assert(rowJson.contains(""""n_name":"""))
    assert(!rowJson.contains("n_regionkey")) // unselected column absent
  }

  test("variables and fragments resolve in the parser") {
    val doc = Parser.parse(
      """query Q($k: Int = 3) { nation { filter(n_regionkey: {eq: $k}) { ...C } } }
         fragment C on Nation { count }""",
      Map.empty)
    val filter = doc.sels.head.sels.head
    assert(filter.args.head._2.toString.contains("3"))
    assert(filter.sels.map(_.name) == Seq("count"))
  }

  test("pipeline fields compose: split feeds sample; dedup preserves count; mix drops positions") {
    // split + dedup compose with core fields (documents has no exact dupes,
    // so dedup is count-preserving on this corpus)
    val r = service.execute(
      """{ documents { count
           d: dedup(on: "text", id: "doc_id") { count }
           s: split(on: "doc_id", shares: {train: 8, val: 1, test: 1}) {
             g: group(by: ["split"], counts: "n") {
               o: order(by: ["split"]) {
                 columns { split { values } n { values } } } } } } }""")
    val n = """"count":(\d+)""".r.findAllMatchIn(r).map(_.group(1).toLong).toSeq
    assert(n.length == 2 && n.head == n(1), s"dedup changed the count: $r")
    assert(r.contains(""""split":{"values":["test","train","val"]}"""), r.take(300))
    // sample keeps a subset
    val s = service.execute(
      """{ documents { count
           k: sample(on: "doc_id", strata: "lang", fractions: {en: 0.5}) { count } } }""")
    val counts = """"count":(\d+)""".r.findAllMatchIn(s).map(_.group(1).toLong).toSeq
    assert(counts(1) < counts.head && counts(1) > 0, s)
    // mix errors cleanly when args are missing
    val err = intercept[IllegalArgumentException](
      service.execute("""{ documents { mix(strata: "lang") { count } } }"""))
    assert(err.getMessage.contains("mix needs on:"))
  }

  test("fragment-spread cycles are rejected, not a stack overflow") {
    val self = intercept[graphql.ParseError](Parser.parse(
      """{ nation { ...A } } fragment A on Nation { ...A }""", Map.empty))
    assert(self.getMessage.contains("fragment cycle"))
    val mutual = intercept[graphql.ParseError](Parser.parse(
      """{ nation { ...A } }
         fragment A on Nation { ...B }
         fragment B on Nation { ...A }""", Map.empty))
    assert(mutual.getMessage.contains("fragment cycle"))
    // re-use of the same fragment on SIBLING paths is legal, not a cycle
    val doc = Parser.parse(
      """{ nation { ...C } region { ...C } } fragment C on Nation { count }""",
      Map.empty)
    assert(doc.sels.map(_.name) == Seq("nation", "region"))
  }

  test("map columns are warned-and-dropped from the schema (reference parity)") {
    // reference tests/test_core.py:39-41: map-typed fields are skipped
    // with a warning, not fatal
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("ok", LongType),
      StructField("m", MapType(StringType, LongType))))
    assert(graphql.SchemaGen.typeFields(schema) == Seq("ok" -> "BigInt"))
    // and the SDL built over such a table omits the map field
    val sdl = graphql.SchemaGen.sdlOf(Seq("t" -> schema))
    assert(sdl.contains("ok: BigInt") && !sdl.contains("m:"))
  }

  test("mapAsJson flag serves map columns as JSON string scalars instead of dropping") {
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_map_root").toString + "/t"
    Seq((1L, Map("a" -> 10L, "b" -> 20L)), (2L, Map("c" -> 30L)))
      .toDF("id", "m").write.parquet(dir)
    spark.conf.set("spark.graft.schema.mapAsJson", "true")
    try {
      val svc = new graphql.GraphQLService(spark, sf,
        extraRoots = Map("mapped" -> dir))
      // reflection: the map field survives as a String scalar
      assert(svc.sdl.contains("m: String"), svc.sdl)
      // serving: values arrive as JSON text, ordered and filterable like
      // any other string column
      val resp = svc.execute(
        """{ mapped { o: order(by: ["id"]) {
             c: columns { id { values } m { values } } } } }""")
      assert(!resp.contains("\"errors\""), resp)
      assert(resp.contains("""{\"a\":10,\"b\":20}""") ||
        resp.contains("""{"a":10,"b":20}"""), resp)
    } finally spark.conf.unset("spark.graft.schema.mapAsJson")
    // parity default (flag off): same root drops the map field
    val svc2 = new graphql.GraphQLService(spark, sf,
      extraRoots = Map("mapped2" -> dir))
    assert(!svc2.sdl.contains("m: String"))
  }
}
