package graft.queries

import graft.graphql.GVal

/** GraphQL-served correctness entries: each runs a full GraphQL document
  * through GraphQLService.execute and hash-matches the same DuckDB oracles
  * as the Scala-API queries (VERDICT round 1 §next-round #1 — the service
  * must be able to express the engine's operator surface, reference
  * tests/test_service.py:71-268). The GqlBridge turns the JSON column
  * leaves back into typed DataFrames for the driver's gate.
  */
object GqlQueries {

  /** filter: where-expression tree AND per-column predicates with list eq
    * (= isin, reference inputs.py:98-106; where interface.py:510-519). */
  val q_gql_filter = Q(
    "q_gql_filter",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: lineitem {
           f: filter(l_returnflag: {eq: ["A", "R"]},
                     where: {and: [{gt: [{name: "l_quantity"}, {value: 30}]},
                                   {lt: [{name: "l_discount"}, {value: 0.03}]}]}) {
             o: order(by: ["l_orderkey", "l_linenumber", "l_quantity"]) {
               c: columns { l_orderkey { values } l_linenumber { values }
                            l_quantity { values } } } } } }""",
      Seq("t", "f", "o", "c"),
      "l_orderkey BIGINT, l_linenumber INT, l_quantity DOUBLE"),
    Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
            WHERE l_returnflag IN ('A', 'R') AND l_quantity > 30 AND l_discount < 0.03
            ORDER BY l_orderkey, l_linenumber, l_quantity"""))

  /** group: core + filtered + nunique + std aggregates, rounded via a
    * project expression block (reference Aggregates, inputs.py:206-231). */
  val q_gql_group = Q(
    "q_gql_group",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: lineitem {
           g: group(by: ["l_returnflag"], counts: "n", aggregate: {
                 sum: [{name: "l_quantity", alias: "sum_qty"},
                       {name: "l_quantity", alias: "sum_disc",
                        where: {gt: [{name: "l_discount"}, {value: 0.02}]}}],
                 mean: [{name: "l_quantity", alias: "avg_raw"}],
                 min: [{name: "l_extendedprice", alias: "min_price"}],
                 max: [{name: "l_extendedprice", alias: "max_price"}],
                 nunique: [{name: "l_orderkey", alias: "n_orders"}],
                 std: [{name: "l_quantity", alias: "std_raw"}]}) {
             p: project(columns: [
                   {alias: "avg_qty", numeric: {round: [{name: "avg_raw"}, {value: 6}]}},
                   {alias: "std_qty", numeric: {round: [{name: "std_raw"}, {value: 6}]}}]) {
               o: order(by: ["l_returnflag"]) {
                 c: columns { l_returnflag { values } sum_qty { values }
                              sum_disc { values } avg_qty { values }
                              min_price { values } max_price { values }
                              n_orders { values } std_qty { values }
                              n { values } } } } } } }""",
      Seq("t", "g", "p", "o", "c"),
      "l_returnflag STRING, sum_qty DOUBLE, sum_disc DOUBLE, avg_qty DOUBLE, " +
        "min_price DOUBLE, max_price DOUBLE, n_orders BIGINT, std_qty DOUBLE, n BIGINT"),
    Some("""SELECT l_returnflag, sum(l_quantity) AS sum_qty,
            sum(l_quantity) FILTER (WHERE l_discount > 0.02) AS sum_disc,
            round(avg(l_quantity), 6) AS avg_qty,
            min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
            count(DISTINCT l_orderkey) AS n_orders,
            round(stddev_samp(l_quantity), 6) AS std_qty, count(*) AS n
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** group: ordered first/last aggregates (reference OrderAggregate,
    * inputs.py:151-161). */
  val q_gql_first_last = Q(
    "q_gql_first_last",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: orders {
           g: group(by: ["o_orderstatus"], aggregate: {
                 first: [{name: "o_orderkey", alias: "first_key",
                          orderBy: ["o_orderdate", "o_orderkey"]}],
                 last: [{name: "o_orderkey", alias: "last_key",
                         orderBy: ["o_orderdate", "o_orderkey"]}]}) {
             o: order(by: ["o_orderstatus"]) {
               c: columns { o_orderstatus { values } first_key { values }
                            last_key { values } } } } } }""",
      Seq("t", "g", "o", "c"),
      "o_orderstatus STRING, first_key BIGINT, last_key BIGINT"),
    Some("""WITH r AS (SELECT o_orderstatus, o_orderkey,
              row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_orderdate, o_orderkey) rn,
              row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_orderdate DESC, o_orderkey DESC) rn2
              FROM orders)
            SELECT o_orderstatus,
              max(CASE WHEN rn = 1 THEN o_orderkey END) AS first_key,
              max(CASE WHEN rn2 = 1 THEN o_orderkey END) AS last_key
            FROM r GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  /** group: argmax/argmin with composite tie-break key (reference
    * ArgAggregate, inputs.py:198-203). */
  val q_gql_argmax = Q(
    "q_gql_argmax",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: orders {
           g: group(by: ["o_orderstatus"], aggregate: {
                 argmax: [{name: "o_orderkey", alias: "key_of_max_price",
                           key: ["o_totalprice", "o_orderkey"]}],
                 argmin: [{name: "o_orderkey", alias: "key_of_min_price",
                           key: ["o_totalprice", "o_orderkey"]}]}) {
             o: order(by: ["o_orderstatus"]) {
               c: columns { o_orderstatus { values } key_of_max_price { values }
                            key_of_min_price { values } } } } } }""",
      Seq("t", "g", "o", "c"),
      "o_orderstatus STRING, key_of_max_price BIGINT, key_of_min_price BIGINT"),
    Some("""WITH r AS (SELECT o_orderstatus, o_orderkey,
              row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey DESC) rx,
              row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice ASC, o_orderkey ASC) rm
              FROM orders)
            SELECT o_orderstatus,
              max(CASE WHEN rx = 1 THEN o_orderkey END) AS key_of_max_price,
              max(CASE WHEN rm = 1 THEN o_orderkey END) AS key_of_min_price
            FROM r GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  /** group: continuous quantiles (reference QuantileAggregate,
    * inputs.py:172-177). */
  val q_gql_quantile = Q(
    "q_gql_quantile",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: lineitem {
           g: group(by: ["l_returnflag"], aggregate: {
                 quantile: [{name: "l_quantity", alias: "q25", q: 0.25},
                            {name: "l_quantity", alias: "q50", q: 0.5},
                            {name: "l_quantity", alias: "q75", q: 0.75}]}) {
             o: order(by: ["l_returnflag"]) {
               c: columns { l_returnflag { values } q25 { values }
                            q50 { values } q75 { values } } } } } }""",
      Seq("t", "g", "o", "c"),
      "l_returnflag STRING, q25 DOUBLE, q50 DOUBLE, q75 DOUBLE"),
    Some("""SELECT l_returnflag,
            quantile_cont(l_quantity, 0.25) AS q25,
            quantile_cont(l_quantity, 0.5) AS q50,
            quantile_cont(l_quantity, 0.75) AS q75
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** group: ordered concat with custom separator (reference
    * ConcatAggregate, inputs.py:188-195). */
  val q_gql_concat = Q(
    "q_gql_concat",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: nation {
           g: group(by: ["n_regionkey"], aggregate: {
                 concat: [{name: "n_name", alias: "nations", sep: "|",
                           orderBy: ["n_name"]}]}) {
             o: order(by: ["n_regionkey"]) {
               c: columns { n_regionkey { values } nations { values } } } } } }""",
      Seq("t", "g", "o", "c"),
      "n_regionkey INT, nations STRING"),
    Some("""SELECT n_regionkey, string_agg(n_name, '|' ORDER BY n_name) AS nations
            FROM nation GROUP BY n_regionkey ORDER BY n_regionkey"""))

  /** window: 0-based ranking, lag with default, cumulative sum (reference
    * Window, inputs.py:490-557). */
  val q_gql_window = Q(
    "q_gql_window",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: events {
           w: window(over: ["user_id"], by: ["ts", "event_id"],
                     rowNumber: "rn", rank: "rk",
                     lag: [{name: "value", default: 0.0, alias: "prev_v"}],
                     sum: [{name: "value", alias: "cum_raw"}]) {
             p: project(columns: [
                   {alias: "cum_v", numeric: {round: [{name: "cum_raw"}, {value: 6}]}}]) {
               o: order(by: ["event_id"]) {
                 c: columns { event_id { values } rn { values } rk { values }
                              prev_v { values } cum_v { values } } } } } } }""",
      Seq("t", "w", "p", "o", "c"),
      "event_id BIGINT, rn INT, rk INT, prev_v DOUBLE, cum_v DOUBLE"),
    Some("""SELECT event_id,
            CAST(row_number() OVER w - 1 AS INTEGER) AS rn,
            CAST(rank() OVER w - 1 AS INTEGER) AS rk,
            lag(value, 1, 0.0) OVER w AS prev_v,
            round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cum_v
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ORDER BY event_id"""))

  /** Pure ranking block through the served rankingsAuto dispatch
    * (Executor.resolveWindow → GTable.rankingsAuto): below the flip
    * threshold this is the plain window, above it the distributed
    * rankings — the query text is identical either way, which is the
    * point. Same 0-based convention as q_window_rank. */
  val q_gql_window_rank = Q(
    "q_gql_window_rank",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: lineitem {
           f: filter(l_orderkey: {lt: 2000}) {
           w: window(over: ["l_returnflag"],
                     by: ["-l_quantity", "l_orderkey", "l_linenumber"],
                     rowNumber: "rn0", rank: "rk0", denseRank: "dr0",
                     ntile: {n: 4, alias: "nt0"}, percentRank: "pr") {
             o: order(by: ["l_returnflag", "rn0"]) {
               c: columns { l_returnflag { values } l_orderkey { values }
                            l_linenumber { values } rn0 { values }
                            rk0 { values } dr0 { values } nt0 { values }
                            pr { values } } } } } } }""",
      Seq("t", "f", "w", "o", "c"),
      "l_returnflag STRING, l_orderkey BIGINT, l_linenumber INT, " +
        "rn0 INT, rk0 INT, dr0 INT, nt0 INT, pr DOUBLE"),
    Some("""SELECT l_returnflag, l_orderkey, l_linenumber,
            CAST(row_number() OVER w - 1 AS INTEGER) AS rn0,
            CAST(rank() OVER w - 1 AS INTEGER) AS rk0,
            CAST(dense_rank() OVER w - 1 AS INTEGER) AS dr0,
            CAST(ntile(4) OVER w - 1 AS INTEGER) AS nt0,
            percent_rank() OVER w AS pr
            FROM lineitem WHERE l_orderkey < 2000
            WINDOW w AS (PARTITION BY l_returnflag
              ORDER BY l_quantity DESC, l_orderkey ASC, l_linenumber ASC)
            ORDER BY l_returnflag, rn0"""))

  /** window: ntile, lead with default, pairwise difference (reference
    * inputs.py:500-506,514-519). */
  val q_gql_ntile_lead = Q(
    "q_gql_ntile_lead",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: events {
           w: window(over: ["user_id"], by: ["event_id"],
                     ntile: {n: 4, alias: "quartile"},
                     lead: [{name: "event_type", default: "none", alias: "next_type"}],
                     sub: [{name: "value", default: 0.0, alias: "dv"}]) {
             o: order(by: ["event_id"]) {
               c: columns { event_id { values } quartile { values }
                            next_type { values } dv { values } } } } } }""",
      Seq("t", "w", "o", "c"),
      "event_id BIGINT, quartile INT, next_type STRING, dv DOUBLE"),
    Some("""SELECT event_id,
            CAST(ntile(4) OVER w - 1 AS INTEGER) AS quartile,
            lead(event_type, 1, 'none') OVER w AS next_type,
            coalesce(value - lag(value, 1) OVER w, 0.0) AS dv
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
            ORDER BY event_id"""))

  /** project: string/numeric/temporal expression blocks (reference
    * inputs.py:329-487). */
  val q_gql_project = Q(
    "q_gql_project",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: orders {
           p: project(columns: [
                 {alias: "pri_num", string: {reExtract: [{name: "o_orderpriority"},
                    {value: "([0-9]+)"}, {value: 1}]}},
                 {alias: "pri_up", string: {lower: {name: "o_orderpriority"}}},
                 {alias: "yr", temporal: {year: {name: "o_orderdate"}}},
                 {alias: "mo", temporal: {month: {name: "o_orderdate"}}},
                 {alias: "ym", temporal: {strftime: {name: "o_orderdate"},
                    formatStr: "%Y-%m"}},
                 {alias: "sq", numeric: {sqrt: {name: "o_totalprice"}}},
                 {alias: "bkt", numeric: {bucket: {name: "o_totalprice"},
                    buckets: [0, 50000, 150000, 400000]}}]) {
             o: order(by: ["o_orderkey"]) {
               c: columns { o_orderkey { values } pri_num { values }
                            pri_up { values } yr { values } mo { values }
                            ym { values } sq { values } bkt { values } } } } } }""",
      Seq("t", "p", "o", "c"),
      "o_orderkey BIGINT, pri_num STRING, pri_up STRING, yr INT, mo INT, " +
        "ym STRING, sq DOUBLE, bkt INT"),
    Some("""SELECT o_orderkey,
            regexp_extract(o_orderpriority, '([0-9]+)', 1) AS pri_num,
            lower(o_orderpriority) AS pri_up,
            CAST(year(o_orderdate) AS INTEGER) AS yr,
            CAST(month(o_orderdate) AS INTEGER) AS mo,
            strftime(o_orderdate, '%Y-%m') AS ym,
            sqrt(o_totalprice) AS sq,
            CASE WHEN o_totalprice >= 0 AND o_totalprice < 50000 THEN 0
                 WHEN o_totalprice >= 50000 AND o_totalprice < 150000 THEN 1
                 WHEN o_totalprice >= 150000 AND o_totalprice < 400000 THEN 2
                 ELSE NULL END AS bkt
            FROM orders ORDER BY o_orderkey"""))

  /** cast field (reference interface.py:129-136). */
  val q_gql_cast = Q(
    "q_gql_cast",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: lineitem {
           x: cast(columns: [{name: "l_quantity", type: "INT"},
                             {name: "l_shipdate", type: "DATE"}]) {
             o: order(by: ["l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"]) {
               c: columns { l_orderkey { values } l_linenumber { values }
                            l_quantity { values } l_shipdate { values } } } } } }""",
      Seq("t", "x", "o", "c"),
      "l_orderkey BIGINT, l_linenumber INT, l_quantity INT, l_shipdate DATE"),
    Some("""SELECT l_orderkey, l_linenumber,
            CAST(l_quantity AS INTEGER) AS l_quantity,
            CAST(l_shipdate AS DATE) AS l_shipdate
            FROM lineitem
            ORDER BY l_orderkey, l_linenumber, CAST(l_quantity AS INTEGER),
              CAST(l_shipdate AS DATE)"""))

  /** ifelse expression + fillNull field (reference interface.py:442-453). */
  val q_gql_fillnull = Q(
    "q_gql_fillnull",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: orders {
           p: project(columns: [{alias: "status_n",
                 ifelse: [{eq: [{name: "o_orderstatus"}, {value: "O"}]},
                          {value: null}, {name: "o_orderstatus"}]}]) {
             f: fillNull(values: {status_n: "none"}) {
               o: order(by: ["o_orderkey"]) {
                 c: columns { o_orderkey { values } status_n { values } } } } } } }""",
      Seq("t", "p", "f", "o", "c"),
      "o_orderkey BIGINT, status_n STRING"),
    Some("""SELECT o_orderkey, coalesce(nullif(o_orderstatus, 'O'), 'none') AS status_n
            FROM orders ORDER BY o_orderkey"""))

  /** dropNull field (reference interface.py:437-440). */
  val q_gql_dropnull = Q(
    "q_gql_dropnull",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: orders {
           p: project(columns: [{alias: "status_n",
                 ifelse: [{eq: [{name: "o_orderstatus"}, {value: "O"}]},
                          {value: null}, {name: "o_orderstatus"}]}]) {
             f: dropNull(on: ["status_n"]) {
               o: order(by: ["o_orderkey"]) {
                 c: columns { o_orderkey { values } status_n { values } } } } } } }""",
      Seq("t", "p", "f", "o", "c"),
      "o_orderkey BIGINT, status_n STRING"),
    Some("""SELECT o_orderkey, nullif(o_orderstatus, 'O') AS status_n
            FROM orders WHERE nullif(o_orderstatus, 'O') IS NOT NULL
            ORDER BY o_orderkey"""))

  /** union field: multiset union with a root table (reference
    * interface.py:397-404). */
  val q_gql_union = Q(
    "q_gql_union",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: customer {
           f: filter(c_custkey: {le: 500}) {
             u: union(right: ["customer"]) {
               o: order(by: ["c_custkey", "c_mktsegment"]) {
                 c: columns { c_custkey { values } c_mktsegment { values } } } } } } }""",
      Seq("t", "f", "u", "o", "c"),
      "c_custkey BIGINT, c_mktsegment STRING"),
    Some("""SELECT c_custkey, c_mktsegment FROM
            (SELECT * FROM customer WHERE c_custkey <= 500
             UNION ALL SELECT * FROM customer)
            ORDER BY c_custkey, c_mktsegment"""))

  /** intersect field: set intersection with a root table (reference
    * interface.py:406-413). */
  val q_gql_intersect = Q(
    "q_gql_intersect",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: customer {
           f: filter(c_custkey: {le: 500}) {
             u: intersect(right: ["customer"]) {
               o: order(by: ["c_custkey"]) {
                 c: columns { c_custkey { values } c_mktsegment { values } } } } } } }""",
      Seq("t", "f", "u", "o", "c"),
      "c_custkey BIGINT, c_mktsegment STRING"),
    Some("""SELECT c_custkey, c_mktsegment FROM
            (SELECT * FROM customer WHERE c_custkey <= 500
             INTERSECT SELECT * FROM customer)
            ORDER BY c_custkey"""))

  /** crossJoin field (reference interface.py:385-395). */
  val q_gql_crossjoin = Q(
    "q_gql_crossjoin",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: nation {
           x: crossJoin(right: "region") {
             o: order(by: ["n_nationkey", "r_regionkey"]) {
               c: columns { n_nationkey { values } n_name { values }
                            r_regionkey { values } r_name { values } } } } } }""",
      Seq("t", "x", "o", "c"),
      "n_nationkey INT, n_name STRING, r_regionkey INT, r_name STRING"),
    Some("""SELECT n_nationkey, n_name, r_regionkey, r_name
            FROM nation CROSS JOIN region
            ORDER BY n_nationkey, r_regionkey"""))

  /** takeFrom field: int column values as natural-order row indices into
    * another root (reference models.py:215-221). */
  val q_gql_takefrom = Q(
    "q_gql_takefrom",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: lineitem {
           f: filter(l_quantity: {ge: 49}) {
             x: takeFrom(right: "supplier", field: "l_suppkey") {
               c: columns { s_suppkey { values } s_name { values }
                            s_acctbal { values } } } } } }""",
      Seq("t", "f", "x", "c"),
      "s_suppkey BIGINT, s_name STRING, s_acctbal DOUBLE"),
    Some("""WITH pos AS (SELECT *, row_number() OVER () - 1 rid FROM supplier)
            SELECT s_suppkey, s_name, s_acctbal FROM pos
            WHERE rid IN (SELECT DISTINCT l_suppkey FROM lineitem WHERE l_quantity >= 49)
            ORDER BY rid"""))

  /** sql root field: the SQL escape hatch over table views (§2.11). */
  val q_gql_sql = Q(
    "q_gql_sql",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ q: sql(query: "SELECT l_returnflag, sum(l_quantity) AS sum_qty FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag") {
           c: columns { l_returnflag { values } sum_qty { values } } } }""",
      Seq("q", "c"),
      "l_returnflag STRING, sum_qty DOUBLE"),
    Some("""SELECT l_returnflag, sum(l_quantity) AS sum_qty FROM lineitem
            GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** project: natural-order cumulatives — served by the DISTRIBUTED block
    * prefix-sum path (GTable.cumulative), not a global window (VERDICT
    * round 1 "what's wrong" #3). run_sum rides an integer column so the
    * gate is exact at ANY amplification (a double cumsum's association
    * order differs between the block prefix-sum and a sequential window,
    * and at x12 the ~1e-12 drift crosses round() boundaries); run_max
    * keeps a double in play (max is association-free). */
  val q_gql_cumsum = Q(
    "q_gql_cumsum",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: events {
           p: project(columns: [
                 {alias: "run_sum", numeric: {cumsum: {name: "user_id"}}},
                 {alias: "run_max", cummax: {name: "value"}}]) {
               o: order(by: ["event_id"]) {
                 c: columns { event_id { values } value { values }
                              run_sum { values } run_max { values } } } } } }""",
      Seq("t", "p", "o", "c"),
      "event_id BIGINT, value DOUBLE, run_sum BIGINT, run_max DOUBLE"),
    Some("""WITH t AS (SELECT *, row_number() OVER () rid FROM events)
            SELECT event_id, value,
            CAST(sum(user_id) OVER w AS BIGINT) AS run_sum,
            max(value) OVER w AS run_max
            FROM t
            WINDOW w AS (ORDER BY rid ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            ORDER BY event_id"""))

  /** variables + named fragment through the parser (reference column
    * queries rely on fragments, tests/test_models.py; variables are core
    * GraphQL). The sort covers every projected column: the driver data's
    * (l_orderkey, l_linenumber) is NOT unique, so a two-key sort leaves
    * tied rows whose order the engine and the oracle may resolve
    * differently (seen at x12); with all three keys, tied rows are
    * byte-identical and any permutation hashes the same. */
  val q_gql_vars_frag = Q(
    "q_gql_vars_frag",
    (s, dir) => GqlBridge.frame(s, dir,
      """query Q($minq: Float = 45.0) {
           t: lineitem {
             f: filter(where: {ge: [{name: "l_quantity"}, {value: $minq}]}) {
               o: order(by: ["l_orderkey", "l_linenumber", "l_quantity"]) { ...Cols } } } }
         fragment Cols on Lineitem {
           c: columns { l_orderkey { values } l_linenumber { values }
                        l_quantity { values } } }""",
      Seq("t", "f", "o", "c"),
      "l_orderkey BIGINT, l_linenumber INT, l_quantity DOUBLE",
      variables = Map("minq" -> GVal.GFloat(48.0))),
    Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
            WHERE l_quantity >= 48.0
            ORDER BY l_orderkey, l_linenumber, l_quantity"""))

  /** federation `_entities` resolution by @key (reference
    * tests/federated.py): each representation resolves to the keyed row;
    * entities answer in representation order (ascending keys here, so the
    * oracle's ORDER BY matches). Spec-only through round 7 — this puts the
    * federation surface under the DuckDB gate. */
  val q_gql_entities = Q(
    "q_gql_entities",
    (s, dir) => GqlBridge.frameEntities(s, dir,
      """{ _entities(representations: [
             {__typename: "Nation", n_nationkey: 2},
             {__typename: "Nation", n_nationkey: 7},
             {__typename: "Nation", n_nationkey: 14},
             {__typename: "Nation", n_nationkey: 21}]) {
           ... on Nation {
             c: columns { n_nationkey { values } n_name { values }
                          n_regionkey { values } } } } }""",
      Seq("c"),
      "n_nationkey INT, n_name STRING, n_regionkey INT",
      keys = Map("nation" -> Seq("n_nationkey"))),
    Some("""SELECT n_nationkey, n_name, n_regionkey FROM nation
            WHERE n_nationkey IN (2, 7, 14, 21) ORDER BY n_nationkey"""))

  /** `optional` error isolation (reference interface.py:138-141): the
    * failing subtree (filter on a nonexistent column) nulls out while the
    * sibling selection still answers — the gate hashes the surviving
    * data. Spec-only through round 7. */
  val q_gql_optional = Q(
    "q_gql_optional",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: nation {
           bad: optional {
             f: filter(where: {eq: [{name: "no_such_column"}, {value: 1}]}) {
               count } }
           o: order(by: ["n_nationkey"]) {
             c: columns { n_nationkey { values } n_name { values } } } } }""",
      Seq("t", "o", "c"),
      "n_nationkey INT, n_name STRING"),
    Some("""SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey"""))

  /** explicit order + slice through the service: positions index the SORTED
    * table (reference interface.py:181-183). */
  val q_gql_order_slice = Q(
    "q_gql_order_slice",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: lineitem {
           o: order(by: ["-l_quantity", "l_orderkey", "l_linenumber"]) {
             s: slice(offset: 1000, limit: 100) {
               c: columns { l_orderkey { values } l_linenumber { values }
                            l_quantity { values } } } } } }""",
      Seq("t", "o", "s", "c"),
      "l_orderkey BIGINT, l_linenumber INT, l_quantity DOUBLE"),
    Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
            ORDER BY l_quantity DESC, l_orderkey, l_linenumber
            LIMIT 100 OFFSET 1000"""))

  /** typed scalars across the JSON boundary: date, timestamp, decimal,
    * boolean, bigint, double, string round-trip through the service codecs
    * (reference scalars.py:59-87; tests/test_models.py:61-129). */
  val q_gql_alltypes = Q(
    "q_gql_alltypes",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: orders {
           p: project(columns: [
                 {alias: "od", temporal: {date: {name: "o_orderdate"}}},
                 {alias: "big", gt: [{name: "o_totalprice"}, {value: 150000}]},
                 {alias: "price", name: "o_totalprice"}]) {
             x: cast(columns: [{name: "price", type: "DECIMAL(12,2)"}]) {
               x2: cast(columns: [{name: "price", type: "DOUBLE"}]) {
                 o: order(by: ["o_orderkey"]) {
                   c: columns { o_orderkey { values } o_orderstatus { values }
                                od { values } o_orderdate { values }
                                price { values } big { values }
                                o_totalprice { values } } } } } } } }""",
      Seq("t", "p", "x", "x2", "o", "c"),
      "o_orderkey BIGINT, o_orderstatus STRING, od DATE, o_orderdate TIMESTAMP_NTZ, " +
        "price DOUBLE, big BOOLEAN, o_totalprice DOUBLE"),
    // price runs through the Decimal JSON codec inside the service (the x
    // stage casts to DECIMAL(12,2), serialized as a string per the reference
    // scalar contract), then a final DOUBLE cast so the gate's pandas
    // comparator sees float64 on both sides: DuckDB's .df() converts DECIMAL
    // results to float64, while a Spark decimal parquet column arrives as
    // Decimal objects whose string form keeps trailing zeros ("100000.10"
    // vs "100000.1") — a guaranteed hash mismatch on any value ending in 0.
    Some("""SELECT o_orderkey, o_orderstatus,
            CAST(o_orderdate AS DATE) AS od, o_orderdate,
            CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
            o_totalprice > 150000 AS big, o_totalprice
            FROM orders ORDER BY o_orderkey"""))

  /** runs through the service: adjacency grouping with counts and the
    * first-seen position column (reference interface.py:471-489). */
  val q_gql_runs = Q(
    "q_gql_runs",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: events {
           r: runs(by: ["event_type"], counts: "n", order: "pos") {
             c: columns { event_type { values } n { values } pos { values } } } } }""",
      Seq("t", "r", "c"),
      "event_type STRING, n BIGINT, pos BIGINT"),
    Some("""WITH t AS (SELECT *, row_number() OVER () - 1 rid FROM events),
            f AS (SELECT *, CASE WHEN event_type IS DISTINCT FROM
                lag(event_type) OVER (ORDER BY rid) THEN 1 ELSE 0 END chg
              FROM t),
            r AS (SELECT *, sum(chg) OVER (ORDER BY rid
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) run_id
              FROM f)
            SELECT any_value(event_type ORDER BY rid) AS event_type,
              count(*) AS n, min(rid) AS pos
            FROM r GROUP BY run_id ORDER BY pos"""))

  /** filter → runs through the service (round-9 verdict lead item): the
    * filtered table's sparse rids are re-densified (GTable.densify block
    * prefix-sum) so the served path dispatches runsDistributed — no
    * single-task global sort. `order:` exposes positions of the FILTERED
    * table (0-based), which is what densify assigns. */
  val q_gql_runs_filtered = Q(
    "q_gql_runs_filtered",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: events {
           f: filter(value: {gt: 0.2}) {
             r: runs(by: ["event_type"], counts: "n", order: "pos") {
               c: columns { event_type { values } n { values } pos { values } } } } } }""",
      Seq("t", "f", "r", "c"),
      "event_type STRING, n BIGINT, pos BIGINT"),
    Some("""WITH t AS (SELECT *, row_number() OVER () rid FROM events),
            s AS (SELECT *, row_number() OVER (ORDER BY rid) - 1 dpos
              FROM t WHERE value > 0.2),
            f AS (SELECT *, CASE WHEN event_type IS DISTINCT FROM
                lag(event_type) OVER (ORDER BY dpos) THEN 1 ELSE 0 END chg
              FROM s),
            r AS (SELECT *, sum(chg) OVER (ORDER BY dpos
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) run_id
              FROM f)
            SELECT any_value(event_type ORDER BY dpos) AS event_type,
              count(*) AS n, min(dpos) AS pos
            FROM r GROUP BY run_id ORDER BY pos"""))

  /** distinct(on:, order:) through the service: first-seen dedup with the
    * exposed position column. */
  val q_gql_distinct = Q(
    "q_gql_distinct",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: orders {
           d: distinct(on: ["o_orderstatus"], order: "idx") {
             c: columns { o_orderstatus { values } idx { values } } } } }""",
      Seq("t", "d", "c"),
      "o_orderstatus STRING, idx BIGINT"),
    Some("""WITH t AS (SELECT *, row_number() OVER () - 1 rid FROM orders)
            SELECT o_orderstatus, min(rid) AS idx
            FROM t GROUP BY o_orderstatus ORDER BY idx"""))

  /** column(name:, cast:) field: single column served with values in
    * natural order (reference interface.py:165-176). */
  val q_gql_column = Q(
    "q_gql_column",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: lineitem {
           qty: column(name: ["l_quantity"], cast: "INT") { values } } }""",
      Seq("t"),
      "qty INT"),
    Some("""WITH t AS (SELECT *, row_number() OVER () rid FROM lineitem)
            SELECT CAST(l_quantity AS INTEGER) AS qty FROM t ORDER BY rid"""))

  /** window expression block inside project (reference inputs.py:490-557
    * via Expression.window). */
  val q_gql_window_expr = Q(
    "q_gql_window_expr",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: lineitem {
           p: project(columns: [{alias: "dr", window: {over: ["l_returnflag"],
                 by: ["-l_quantity", "l_orderkey", "l_linenumber"], denseRank: null}}]) {
             o: order(by: ["l_orderkey", "l_linenumber", "dr"]) {
               c: columns { l_orderkey { values } l_linenumber { values }
                            dr { values } } } } } }""",
      Seq("t", "p", "o", "c"),
      "l_orderkey BIGINT, l_linenumber INT, dr INT"),
    Some("""SELECT l_orderkey, l_linenumber,
            CAST(dense_rank() OVER (PARTITION BY l_returnflag
              ORDER BY l_quantity DESC, l_orderkey, l_linenumber) - 1 AS INTEGER) AS dr
            FROM lineitem ORDER BY l_orderkey, l_linenumber, dr"""))

  /** unnest through the service: split → explode with offset column
    * (reference interface.py:307-322). */
  val q_gql_unnest = Q(
    "q_gql_unnest",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: customer {
           p: project(columns: [{alias: "parts",
                 string: {split: [{name: "c_name"}, {value: "#"}]}}]) {
             u: unnest(name: "parts", offset: "idx") {
               o: order(by: ["c_custkey", "idx"]) {
                 c: columns { c_custkey { values } idx { values }
                              parts { values } } } } } } }""",
      Seq("t", "p", "u", "o", "c"),
      "c_custkey BIGINT, idx INT, parts STRING"),
    Some("""WITH t AS (SELECT c_custkey, string_split(c_name, '#') AS ps FROM customer)
            SELECT c_custkey, CAST(g.i - 1 AS INTEGER) AS idx, ps[g.i] AS parts
            FROM t, unnest(generate_series(1, len(ps))) AS g(i)
            ORDER BY c_custkey, idx"""))

  /** Pipeline extension surface through the service: exact dedup as a
    * composable table field (semi-join to min-id representatives). */
  val q_gql_dedup = Q(
    "q_gql_dedup",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: documents {
           d: dedup(on: "text", id: "doc_id") {
             o: order(by: ["doc_id"]) {
               c: columns { doc_id { values } } } } } }""",
      Seq("t", "d", "o", "c"),
      "doc_id BIGINT"),
    Some("""SELECT min(doc_id) AS doc_id FROM documents GROUP BY text
            ORDER BY doc_id"""))

  /** Eval-set decontamination through the service: corpus = id % 50 != 0
    * (via the new mod expression op), benchmark = the same root pre-filtered
    * with benchmarkWhere:; contaminated docs (≥2 shared 3-grams) dropped. */
  val q_gql_decontaminate = Q(
    "q_gql_decontaminate",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: documents {
           f: filter(where: {ne: [{mod: [{name: "doc_id"}, {value: 50}]},
                                  {value: 0}]}) {
             d: decontaminate(benchmark: "documents",
                   benchmarkWhere: {eq: [{mod: [{name: "doc_id"}, {value: 50}]},
                                         {value: 0}]},
                   on: "text", id: "doc_id", n: 3, minHits: 2) {
               o: order(by: ["doc_id"]) {
                 c: columns { doc_id { values } } } } } } }""",
      Seq("t", "f", "d", "o", "c"),
      "doc_id BIGINT"),
    Some("""WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks
              FROM documents),
            sh AS (SELECT doc_id,
              unnest(list_distinct(CASE WHEN len(toks) >= 3 THEN
                list_transform(range(1, len(toks) - 1),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                ELSE [] END)) AS s
              FROM t),
            bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0),
            corp AS (SELECT doc_id, s FROM sh WHERE doc_id % 50 <> 0),
            bad AS (SELECT corp.doc_id FROM corp JOIN bench USING (s)
              GROUP BY 1 HAVING count(*) >= 2)
            SELECT doc_id FROM documents
            WHERE doc_id % 50 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
            ORDER BY doc_id"""))

  /** Deterministic split column through the service (md5 hash buckets). */
  val q_gql_split = Q(
    "q_gql_split",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: documents {
           s: split(on: "doc_id", shares: {train: 8, val: 1, test: 1}) {
             o: order(by: ["doc_id"]) {
               c: columns { doc_id { values } lang { values }
                            split { values } } } } } }""",
      Seq("t", "s", "o", "c"),
      "doc_id BIGINT, lang STRING, split STRING"),
    PipelineQueries.q_split_hash.oracle)

  /** Deterministic mixture resampling through the service. */
  val q_gql_mix = Q(
    "q_gql_mix",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: documents {
           m: mix(on: "doc_id", strata: "lang", weights: {en: 2.5, zh: 0.3}) {
             o: order(by: ["doc_id", "copy"]) {
               c: columns { doc_id { values } lang { values }
                            copy { values } } } } } }""",
      Seq("t", "m", "o", "c"),
      "doc_id BIGINT, lang STRING, copy INT"),
    PipelineQueries.q_mix_weighted.oracle)

  /** Deterministic md5-keyed corpus shuffle through the service. */
  val q_gql_shuffle = Q(
    "q_gql_shuffle",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: documents {
           s: shuffle(on: "doc_id", seed: "42") {
             c: columns { doc_id { values } shuffle_key { values } } } } }""",
      Seq("t", "s", "c"),
      "doc_id BIGINT, shuffle_key STRING"),
    PipelineQueries.q_shuffle_det.oracle)

  /** Inverted-index keyword search through the service: the first request
    * builds the posting index (textIndexFor), this gate's probe then reads
    * only the term buckets. Same oracle as the library gate. */
  val q_gql_search = Q(
    "q_gql_search",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: documents {
           s: search(terms: ["join", "filter"], on: "text", id: "doc_id") {
             o: order(by: ["doc_id"]) {
               c: columns { doc_id { values } lang { values }
                            source { values } } } } } }""",
      Seq("t", "s", "o", "c"),
      "doc_id BIGINT, lang STRING, source STRING"),
    PipelineQueries.q_text_search.oracle)

  /** at-least-m membership search through the service (same cached index
    * as the AND gate). */
  val q_gql_search_min = Q(
    "q_gql_search_min",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: documents {
           s: search(terms: ["scan", "batch", "row"], on: "text",
                     id: "doc_id", minMatch: 2) {
             o: order(by: ["doc_id"]) {
               c: columns { doc_id { values } } } } } }""",
      Seq("t", "s", "o", "c"),
      "doc_id BIGINT"),
    PipelineQueries.q_text_search_min.oracle)

  /** Exact-phrase search through the service (off the same root text
    * index its membership and BM25 searches read). */
  val q_gql_phrase = Q(
    "q_gql_phrase",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: documents {
           s: search(phrase: ["table", "hash"], on: "text", id: "doc_id") {
             o: order(by: ["doc_id"]) {
               c: columns { doc_id { values } } } } } }""",
      Seq("t", "s", "o", "c"),
      "doc_id BIGINT"),
    PipelineQueries.q_text_phrase.oracle)

  /** BM25 ranked retrieval through the service (search with k:). */
  val q_gql_bm25 = Q(
    "q_gql_bm25",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: documents {
           s: search(terms: ["join", "filter", "hash"], on: "text",
                     id: "doc_id", k: 50) {
             o: order(by: ["rank"]) {
               c: columns { doc_id { values } score { values }
                            rank { values } } } } } }""",
      Seq("t", "s", "o", "c"),
      "doc_id BIGINT, score DOUBLE, rank BIGINT"),
    PipelineQueries.q_text_bm25.oracle)

  /** Served filtered BM25 — the rank-then-verify contract: `filter →
    * search(k:, corpus:)` ranks by the ROOT corpus's statistics (per-doc
    * constants, so the restricted top-k is exactly the first k survivors
    * of the root ranking), ranks renumbered 1..k over the survivors, and
    * the probe reuses the root's prebuilt index — NO per-filtered-plan
    * index build. The oracle recomputes full-corpus BM25, restricts to
    * the filter, and cuts the top k. */
  val q_gql_bm25_filtered = Q(
    "q_gql_bm25_filtered",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: documents {
           f: filter(lang: {eq: "en"}) {
             s: search(terms: ["join", "filter", "hash"], on: "text",
                       id: "doc_id", k: 20, corpus: "documents") {
               o: order(by: ["rank"]) {
                 c: columns { doc_id { values } score { values }
                              rank { values } } } } } } }""",
      Seq("t", "f", "s", "o", "c"),
      "doc_id BIGINT, score DOUBLE, rank BIGINT"),
    Some("""WITH d AS (SELECT doc_id, lang,
              regexp_split_to_array(lower(text), '\s+') AS a FROM documents),
          stats AS (SELECT count(*) AS n, avg(len(a)) AS avgdl FROM d
              WHERE len(list_filter(a, t -> len(t) > 0)) > 0),
          tok AS (SELECT doc_id, len(a) AS dl, unnest(a) AS term FROM d),
          tf AS (SELECT doc_id, term, dl, count(*) AS tf FROM tok
                 WHERE term IN ('join', 'filter', 'hash') GROUP BY 1, 2, 3),
          dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          sc AS (SELECT tf.doc_id,
              round(sum(
                ln(1 + (CAST(stats.n AS DOUBLE) - dfs.df + 0.5) / (dfs.df + 0.5))
                  * (tf.tf * 2.2)
                  / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl))), 6)
                AS score
            FROM tf JOIN dfs USING (term) CROSS JOIN stats GROUP BY 1),
          surv AS (SELECT sc.doc_id, sc.score FROM sc
            JOIN d USING (doc_id) WHERE d.lang = 'en')
          SELECT doc_id, score,
            CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
              AS rank
          FROM surv ORDER BY score DESC, doc_id LIMIT 20"""))

  /** Served filtered phrase search — phrase adjacency is a pure
    * per-document content predicate, so probing the ROOT's positional
    * index and semi-joining back is exact, no per-filtered-plan build. */
  val q_gql_phrase_filtered = Q(
    "q_gql_phrase_filtered",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: documents {
           f: filter(lang: {eq: "en"}) {
             s: search(phrase: ["table", "hash"], on: "text",
                       id: "doc_id", corpus: "documents") {
               o: order(by: ["doc_id"]) {
                 c: columns { doc_id { values } } } } } } }""",
      Seq("t", "f", "s", "o", "c"),
      "doc_id BIGINT"),
    Some("""WITH t AS (SELECT doc_id, lang,
              regexp_split_to_array(lower(text), '\s+') AS a FROM documents)
          SELECT doc_id FROM t
          WHERE lang = 'en' AND len(a) >= 2 AND EXISTS (
            SELECT 1 FROM UNNEST(range(1, len(a))) AS u(p)
            WHERE a[CAST(p AS BIGINT)] = 'table'
              AND a[CAST(p + 1 AS BIGINT)] = 'hash')
          ORDER BY doc_id"""))

  /** Deterministic token-budget head through the service. */
  val q_gql_token_budget = Q(
    "q_gql_token_budget",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: documents {
           h: tokenBudget(budget: 10000, on: "text", id: "doc_id", seed: "42") {
             o: order(by: ["shuffle_key"]) {
               c: columns { doc_id { values } shuffle_key { values }
                            tokens_before { values } } } } } }""",
      Seq("t", "h", "o", "c"),
      "doc_id BIGINT, shuffle_key STRING, tokens_before BIGINT"),
    PipelineQueries.q_token_budget.oracle)

  /** Span-level corpus dedup through the service. */
  val q_gql_dedup_spans = Q(
    "q_gql_dedup_spans",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: documents {
           d: dedupSpans(on: "text", id: "doc_id", span: 10) {
             o: order(by: ["doc_id"]) {
               c: columns { doc_id { values } text { values } } } } } }""",
      Seq("t", "d", "o", "c"),
      "doc_id BIGINT, text STRING"),
    PipelineQueries.q_dedup_spans.oracle)

  /** Exact-substring (overlapping-window) corpus dedup through the
    * service. */
  val q_gql_dedup_substr = Q(
    "q_gql_dedup_substr",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: documents {
           d: dedupSubstrings(on: "text", id: "doc_id", window: 8) {
             o: order(by: ["doc_id"]) {
               c: columns { doc_id { values } text { values } } } } } }""",
      Seq("t", "d", "o", "c"),
      "doc_id BIGINT, text STRING"),
    PipelineQueries.q_dedup_substr.oracle)

  /** Per-stratum reservoir through the service. */
  val q_gql_reservoir = Q(
    "q_gql_reservoir",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: documents {
           r: reservoir(on: "doc_id", strata: ["lang"], k: 20, seed: "7") {
             o: order(by: ["doc_id"]) {
               c: columns { doc_id { values } lang { values } } } } } }""",
      Seq("t", "r", "o", "c"),
      "doc_id BIGINT, lang STRING"),
    PipelineQueries.q_reservoir.oracle)

  /** ANN nearest-neighbor search through the service: the `nearest` field
    * dispatches to the PREBUILT IVF index tier (ivfIndexFor build-once +
    * partition-pruned ivfProbe) — same parameters and oracle as
    * q_ann_ivf_prebuilt, so the served path is hash-adjudicated against the
    * library path's DuckDB recomputation. */
  val q_gql_ann = Q(
    "q_gql_ann",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: embeddings {
           n: nearest(on: "embedding", id: "vec_id",
                      ids: [0, 1, 2, 3, 4, 5, 6, 7, 8, 9],
                      k: 5, method: "IVF", nlist: 16, nprobe: 6) {
             p: project(columns: [
                   {alias: "score_r", numeric: {round: [{name: "score"}, {value: 9}]}}]) {
               o: order(by: ["query_id", "rank"]) {
                 c: columns { query_id { values } neighbor_id { values }
                              score: score_r { values } rank { values } } } } } } }""",
      Seq("t", "n", "p", "o", "c"),
      "query_id BIGINT, neighbor_id BIGINT, score DOUBLE, rank INT"),
    PipelineQueries.q_ann_ivf_prebuilt.oracle)

  /** Served LSH ANN through `nearest(method: "LSH")` — exercises the
    * serving default of query-side multiprobe (probes = 2, recall@5 0.98
    * vs 0.66 single-bucket) against the prebuilt cached index; adjudicated
    * by the same multiprobe-recomputing oracle as q_ann_lsh. */
  val q_gql_ann_lsh = Q(
    "q_gql_ann_lsh",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: embeddings {
           n: nearest(on: "embedding", id: "vec_id",
                      ids: [0, 1, 2, 3, 4, 5, 6, 7, 8, 9],
                      k: 5, method: "LSH", planes: 4, tables: 8) {
             p: project(columns: [
                   {alias: "score_r", numeric: {round: [{name: "score"}, {value: 9}]}}]) {
               o: order(by: ["query_id", "rank"]) {
                 c: columns { query_id { values } neighbor_id { values }
                              score: score_r { values } rank { values } } } } } } }""",
      Seq("t", "n", "p", "o", "c"),
      "query_id BIGINT, neighbor_id BIGINT, score DOUBLE, rank INT"),
    PipelineQueries.q_ann_lsh.oracle)

  /** Served ANN by EXTERNAL query vector (`nearest(vector: [...])`) —
    * the serving-tier shape where the query embedding arrives from a
    * model, not a corpus row; served under a NULL query_id (null-safe
    * self-exclusion in the scorers) so no corpus row — whatever its id
    * value — is excluded from scoring. BRUTE method keeps the gate
    * exact; the oracle recomputes top-5 cosine against the same
    * literal. */
  val q_gql_ann_vector = Q(
    "q_gql_ann_vector",
    (s, dir) => GqlBridge.frame(s, dir,
      s"""{ t: embeddings {
           n: nearest(on: "embedding", id: "vec_id",
                      vector: [1, 1${", 0" * 62}],
                      k: 5, method: "BRUTE") {
             p: project(columns: [
                   {alias: "score_r", numeric: {round: [{name: "score"}, {value: 9}]}}]) {
               o: order(by: ["rank"]) {
                 c: columns { query_id { values } neighbor_id { values }
                              score: score_r { values } rank { values } } } } } } }""",
      Seq("t", "n", "p", "o", "c"),
      "query_id BIGINT, neighbor_id BIGINT, score DOUBLE, rank INT"),
    Some(s"""WITH v AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings),
          q AS (SELECT CAST(NULL AS BIGINT) AS query_id,
            list_transform(range(1, 65),
              i -> CASE WHEN i <= 2 THEN CAST(1 AS DOUBLE)
                   ELSE CAST(0 AS DOUBLE) END) AS qe),
          scored AS (SELECT query_id, v.vec_id AS neighbor_id,
              ${PipelineQueries.cosSql("q.qe", "v.e")} AS score
            FROM v CROSS JOIN q),
          ranked AS (SELECT query_id, neighbor_id, score,
              row_number() OVER (ORDER BY score DESC, neighbor_id) AS rn
            FROM scored)
          SELECT query_id, neighbor_id, round(score, 9) AS score,
            CAST(rn AS INT) AS rank
          FROM ranked WHERE rn <= 5 ORDER BY rank"""))

  /** Served batch k-NN JOIN (`knnJoin(corpus:, method: "LSH")`): the
    * query side is a TABLE (here: the vec_id % 20 = 3 slice, built with
    * served project + filter), not an id list — the serving surface for
    * "pair every batch row with its corpus neighbors". Same parameters
    * and fully-recomputing oracle as q_knn_join_lsh (planes, left
    * multiprobe, the occupancy cap, re-score, top-k). */
  val q_gql_knn_join = Q(
    "q_gql_knn_join",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: embeddings {
           m: project(columns: [
                 {alias: "m20", mod: [{name: "vec_id"}, {value: 20}]}]) {
             f: filter(m20: {eq: 3}) {
               j: knnJoin(corpus: "embeddings", on: "embedding", id: "vec_id",
                          k: 3, method: "LSH", planes: 4, tables: 8, probes: 1) {
                 p: project(columns: [
                       {alias: "score_r", numeric: {round: [{name: "score"}, {value: 9}]}}]) {
                   o: order(by: ["query_id", "rank"]) {
                     c: columns { query_id { values } neighbor_id { values }
                                  score: score_r { values } rank { values } } } } } } } } }""",
      Seq("t", "m", "f", "j", "p", "o", "c"),
      "query_id BIGINT, neighbor_id BIGINT, score DOUBLE, rank INT"),
    PipelineQueries.q_knn_join_lsh.oracle)

  /** Served k-NN join with NO method: — the serving layer dispatches by
    * estimated corpus size (knnJoinAuto). At gate scale that is the
    * BRUTE arm, so the exact-join oracle adjudicates; the above-budget
    * regimes are spec-observed via knnJoinFlip. */
  val q_gql_knn_join_auto = Q(
    "q_gql_knn_join_auto",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: embeddings {
           m: project(columns: [
                 {alias: "m20", mod: [{name: "vec_id"}, {value: 20}]}]) {
             f: filter(m20: {eq: 3}) {
               j: knnJoin(corpus: "embeddings", on: "embedding", id: "vec_id",
                          k: 3) {
                 p: project(columns: [
                       {alias: "score_r", numeric: {round: [{name: "score"}, {value: 9}]}}]) {
                   o: order(by: ["query_id", "rank"]) {
                     c: columns { query_id { values } neighbor_id { values }
                                  score: score_r { values } rank { values } } } } } } } } }""",
      Seq("t", "m", "f", "j", "p", "o", "c"),
      "query_id BIGINT, neighbor_id BIGINT, score DOUBLE, rank INT"),
    PipelineQueries.q_knn_join.oracle)

  /** Served random projection (`randomProject(on:, outDim:)`): the fused
    * MatVec pass appended as a served column; three coordinates are
    * widened to double in the expression tree (× 1.0 — exact float
    * widening, mirroring the oracle's CAST chain) and adjudicated. */
  val q_gql_embed_project = Q(
    "q_gql_embed_project",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: embeddings {
           r: randomProject(on: "embedding", outDim: 16, alias: "proj") {
             p: project(columns: [
                   {alias: "p0", numeric: {round: [
                      {mul: [{name: ["proj", 0]}, {value: 1.0}]}, {value: 9}]}},
                   {alias: "p8", numeric: {round: [
                      {mul: [{name: ["proj", 8]}, {value: 1.0}]}, {value: 9}]}},
                   {alias: "p15", numeric: {round: [
                      {mul: [{name: ["proj", 15]}, {value: 1.0}]}, {value: 9}]}}]) {
               o: order(by: ["vec_id"]) {
                 c: columns { vec_id { values } p0 { values }
                              p8 { values } p15 { values } } } } } } }""",
      Seq("t", "r", "p", "o", "c"),
      "vec_id BIGINT, p0 DOUBLE, p8 DOUBLE, p15 DOUBLE"),
    Some(s"""WITH v AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings),
          ${PipelineQueries.projGridSql(outDim = 16, dim = 64)},
          proj AS (SELECT v.vec_id, pc.p,
              CAST(CAST(${PipelineQueries.dotSql("v.e", "pc.pl")} AS FLOAT)
                AS DOUBLE) AS d
            FROM v, pc)
          SELECT vec_id,
            round(max(CASE WHEN p = 0 THEN d END), 9) AS p0,
            round(max(CASE WHEN p = 8 THEN d END), 9) AS p8,
            round(max(CASE WHEN p = 15 THEN d END), 9) AS p15
          FROM proj GROUP BY vec_id ORDER BY vec_id"""))

  /** Served snapshot diff (`snapshotDiff(old:)`): THIS table is the
    * current snapshot — built with served project (the uppercase text
    * mutation via ifelse) and filter (drop doc_id % 7) — diffed against
    * the documents root as the previous snapshot. Exercises the removed
    * + changed arms (the served surface cannot synthesize brand-new
    * keys, so `added` stays library-gated via q_snapshot_diff). */
  val q_gql_snapshot_diff = Q(
    "q_gql_snapshot_diff",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: documents {
           m: project(columns: [
                 {alias: "text", ifelse: [
                    {eq: [{mod: [{name: "doc_id"}, {value: 5}]}, {value: 0}]},
                    {string: {upper: {name: "text"}}},
                    {name: "text"}]},
                 {alias: "m7", mod: [{name: "doc_id"}, {value: 7}]}]) {
             f: filter(m7: {ne: 0}) {
               d: snapshotDiff(old: "documents", on: ["doc_id"], compare: ["text"]) {
                 o: order(by: ["doc_id"]) {
                   c: columns { doc_id { values } status { values } } } } } } } }""",
      Seq("t", "m", "f", "d", "o", "c"),
      "doc_id BIGINT, status STRING"),
    Some("""WITH old AS (SELECT doc_id, text FROM documents),
          cur AS (SELECT doc_id,
              CASE WHEN doc_id % 5 = 0 THEN upper(text) ELSE text END AS text
            FROM documents WHERE doc_id % 7 <> 0),
          j AS (SELECT coalesce(o.doc_id, c.doc_id) AS doc_id,
              o.doc_id IS NOT NULL AS in_old, c.doc_id IS NOT NULL AS in_cur,
              o.text IS DISTINCT FROM c.text AS differs
            FROM old o FULL OUTER JOIN cur c ON o.doc_id = c.doc_id)
          SELECT doc_id,
            CASE WHEN NOT in_old THEN 'added'
                 WHEN NOT in_cur THEN 'removed'
                 ELSE 'changed' END AS status
          FROM j WHERE NOT in_old OR NOT in_cur OR differs
          ORDER BY doc_id"""))

  /** Map columns served as JSON scalars (spark.graft.schema.mapAsJson;
    * parity default drops them like the reference) — the sql root builds a
    * map from plain columns, the service serializes it to_json, and DuckDB
    * recomputes the identical JSON text. Set per-request: the flag is read
    * at the sql boundary, not service construction. */
  val q_gql_map = Q(
    "q_gql_map",
    (s, dir) => {
      s.conf.set("spark.graft.schema.mapAsJson", "true")
      try GqlBridge.frame(s, dir,
        """{ q: sql(query: "SELECT doc_id, map('lang', lang) AS m FROM documents ORDER BY doc_id") {
             c: columns { doc_id { values } m { values } } } }""",
        Seq("q", "c"),
        "doc_id BIGINT, m STRING")
      finally s.conf.unset("spark.graft.schema.mapAsJson")
    },
    Some("""SELECT doc_id, CAST(to_json(MAP {'lang': lang}) AS VARCHAR) AS m
            FROM documents ORDER BY doc_id"""))

  /** tf-idf keyword extraction through the service. */
  val q_gql_tfidf = Q(
    "q_gql_tfidf",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: documents {
           f: tfidf(on: "text", id: "doc_id", k: 5) {
             o: order(by: ["doc_id", "term"]) {
               c: columns { doc_id { values } term { values } tf { values }
                            df_t { values } tfidf { values } } } } } }""",
      Seq("t", "f", "o", "c"),
      "doc_id BIGINT, term STRING, tf BIGINT, df_t BIGINT, tfidf DOUBLE"),
    PipelineQueries.q_tfidf_topk.oracle)

  /** The SERVED text-metric stack end-to-end: textStats(metrics:) projects
    * ONE fused text_stats pass and derives the requested metric groups.
    * The lang+tokens groups are integer/string-valued, so the compare is
    * exact with no FP-rounding dependence; the double-valued groups are
    * adjudicated by q_text_quality / q_text_repetition / q_gopher_filter
    * through the same derivations. */
  val q_gql_text_stats = Q(
    "q_gql_text_stats",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: documents {
           f: textStats(on: "text", metrics: ["lang", "tokens"]) {
             o: order(by: ["doc_id"]) {
               c: columns { doc_id { values } pred_lang { values }
                            ws_tokens { values } bpe_ish_tokens { values } } } } } }""",
      Seq("t", "f", "o", "c"),
      "doc_id BIGINT, pred_lang STRING, ws_tokens INT, bpe_ish_tokens INT"),
    Some("""WITH t AS (SELECT doc_id, text,
              regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
            r AS (SELECT doc_id, text, toks,
              len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','that','it','for'], x))) / greatest(len(toks), 1) AS en,
              len(list_filter(toks, x -> list_contains(['el','la','de','y','que','en','un','es','se','no'], x))) / greatest(len(toks), 1) AS es,
              len(list_filter(toks, x -> list_contains(['der','die','das','und','zu','in','den','von','ist','mit'], x))) / greatest(len(toks), 1) AS de
              FROM t)
            SELECT doc_id,
              CASE WHEN en >= es AND en >= de THEN 'en'
                   WHEN es >= de THEN 'es' ELSE 'de' END AS pred_lang,
              CAST(len(toks) AS INTEGER) AS ws_tokens,
              CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS bpe_ish_tokens
            FROM r ORDER BY doc_id"""))

  /** RAG chunking through the service — same oracle as the engine twin. */
  val q_gql_chunks = Q(
    "q_gql_chunks",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: documents {
           f: chunks(on: "text", id: "doc_id", size: 64, overlap: 16) {
             o: order(by: ["doc_id", "chunk_idx"]) {
               c: columns { doc_id { values } chunk_idx { values }
                            chunk { values } } } } } }""",
      Seq("t", "f", "o", "c"),
      "doc_id BIGINT, chunk_idx INT, chunk STRING"),
    PipelineQueries.q_chunks.oracle)

  /** PII scrubbing through the service, adjudicated by DuckDB running the
    * SAME RE2-safe regex chain on the raw corpus (the synthetic-PII
    * injection substance is covered by the engine twin q_pii_scrub). */
  val q_gql_scrub = Q(
    "q_gql_scrub",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: documents {
           f: scrub(on: "text", alias: "clean") {
             o: order(by: ["doc_id"]) {
               c: columns { doc_id { values } clean { values } } } } } }""",
      Seq("t", "f", "o", "c"),
      "doc_id BIGINT, clean STRING"),
    Some("""SELECT doc_id,
              regexp_replace(
                regexp_replace(
                  regexp_replace(text,
                    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
                  '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                '\+\d{7,15}\b', '<PHONE>', 'g') AS clean
            FROM documents ORDER BY doc_id"""))

  /** Served multimodal tier: real container-header parsing
    * (imageMeta(on: "blob")) over a binary-column root registered as an
    * extra table — the fixture parquet holds the same spec-conformant
    * PNG/GIF/JPEG/BMP/WebP bytes (and degraded shapes) as
    * q_media_imagemeta, whose oracle adjudicates this twin. */
  val q_gql_imagemeta = Q(
    "q_gql_imagemeta",
    (s, dir) => {
      val fxPath = MultimodalQueries.imageFixturePath(s)
      GqlBridge.frame(s, dir,
        """{ t: images {
             m: imageMeta(on: "blob") {
               o: order(by: ["name"]) {
                 c: columns { name { values } format { values }
                              width { values } height { values } } } } } }""",
        Seq("t", "m", "o", "c"),
        "name STRING, format STRING, width INT, height INT",
        extra = Map("images" -> fxPath))
    },
    MultimodalQueries.q_media_imagemeta.oracle)

  /** Served typed-decode batch path: mediaFeatures runs the per-partition
    * decoder lifecycle (the mapInPandas analog) behind the service; the
    * oracle recomputes the stub decoder's byte-fold relationally, exactly
    * like q_media_features. */
  val q_gql_media_features = Q(
    "q_gql_media_features",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: documents {
           m: mediaFeatures(on: "text", id: "doc_id", k: 2) {
             o: order(by: ["doc_id"]) {
               c: columns { doc_id { values } n_bytes { values }
                            f0 { values } f1 { values } } } } } }""",
      Seq("t", "m", "o", "c"),
      "doc_id BIGINT, n_bytes INT, f0 FLOAT, f1 FLOAT"),
    MultimodalQueries.q_media_features.oracle)

  /** Fused rolling-hash fingerprint through the service. */
  val q_gql_fingerprint = Q(
    "q_gql_fingerprint",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: documents {
           f: fingerprint(on: "text") {
             o: order(by: ["doc_id"]) {
               c: columns { doc_id { values } fp { values } } } } } }""",
      Seq("t", "f", "o", "c"),
      "doc_id BIGINT, fp BIGINT"),
    PipelineQueries.q_fingerprint.oracle)

  /** Token-budget packing through the service (natural-order prefix sums
    * — the field enforces dense positions). */
  val q_gql_pack = Q(
    "q_gql_pack",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: documents {
           f: pack(on: "text", id: "doc_id", budget: 2048) {
             o: order(by: ["bin"]) {
               c: columns { bin { values } n_docs { values } tokens { values }
                            first_id { values } last_id { values } } } } } }""",
      Seq("t", "f", "o", "c"),
      "bin BIGINT, n_docs BIGINT, tokens BIGINT, first_id BIGINT, last_id BIGINT"),
    PipelineQueries.q_pack_tokens.oracle)

  /** Served linear quality-classifier scoring (`qualityScore(weights:)`):
    * the model arrives as an EXTRA parquet root (idx, weight) — exactly
    * how a production deployment mounts an offline-trained model next to
    * the corpus roots — and the serving path broadcasts it. Same
    * deterministic 1024-row model and fully-recomputing oracle as
    * q_quality_linear. */
  val q_gql_quality = Q(
    "q_gql_quality",
    (s, dir) => {
      import org.apache.spark.sql.functions.{col, lit}
      // path versions the model formula: regenerating after a formula
      // change must not be skipped by the exists() guard. Concurrent gate
      // topologies may race here, so each writer stages to a private temp
      // dir and publishes with an atomic rename — exactly one wins, losers
      // discard; nobody ever reads a partially-written parquet.
      val wPath = "/tmp/graft_model1024_d512/" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      if (!new java.io.File(wPath).exists()) {
        val tmp = wPath + s".tmp-${ProcessHandle.current().pid()}-${System.nanoTime()}"
        s.range(1024).select(col("id").as("idx"),
            ((col("id") % 997 - 498) / lit(512.0)).as("weight"))
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        if (!new java.io.File(tmp).renameTo(new java.io.File(wPath))) {
          val p = new org.apache.hadoop.fs.Path(tmp)
          p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        }
      }
      GqlBridge.frame(s, dir,
        """{ t: documents {
             q: qualityScore(on: "text", id: "doc_id", weights: "model",
                             dim: 1024, bias: -0.125) {
               p: project(columns: [
                     {alias: "prob_r", numeric: {round: [{name: "prob"}, {value: 4}]}}]) {
                 o: order(by: ["doc_id"]) {
                   c: columns { doc_id { values } score { values }
                                prob: prob_r { values } } } } } } }""",
        Seq("t", "q", "p", "o", "c"),
        "doc_id BIGINT, score DOUBLE, prob DOUBLE",
        extra = Map("model" -> wPath))
    },
    PipelineQueries.q_quality_linear.oracle)

  /** Served DSIR selection (`dsirSelect(target:, targetWhere:)`): the raw
    * corpus is THIS table, the target distribution the English slice of
    * the documents root — same parameters and fully-recomputing oracle
    * (buckets, smoothing, Gumbel draw, top-k) as q_dsir_sample. */
  val q_gql_dsir = Q(
    "q_gql_dsir",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: documents {
           d: dsirSelect(on: "text", id: "doc_id", target: "documents",
                         targetWhere: {eq: [{name: "lang"}, {value: "en"}]},
                         dim: 2048, k: 100, seed: "13") {
             p: project(columns: [
                   {alias: "lw_r", numeric: {round: [{name: "lw"}, {value: 4}]}}]) {
               o: order(by: ["doc_id"]) {
                 c: columns { doc_id { values } lw: lw_r { values }
                              gscore { values } } } } } } }""",
      Seq("t", "d", "p", "o", "c"),
      "doc_id BIGINT, lw DOUBLE, gscore DOUBLE"),
    PipelineQueries.q_dsir_sample.oracle)

  /** Served column census: the GraphQL `profile(columns:, exact:)`
    * field over lineitem — same metrics and oracle as q_profile, proving
    * the serving path (field → Profile.summary → column response). */
  val q_gql_profile = Q(
    "q_gql_profile",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: lineitem {
           p: profile(columns: ["l_orderkey", "l_quantity", "l_returnflag"],
                      exact: true) {
             o: order(by: ["name"]) {
               c: columns { name { values } cnt { values } null_cnt { values }
                            ndv { values } min_s { values } max_s { values }
                            mean { values } p50 { values } p95 { values } } } } } }""",
      Seq("t", "p", "o", "c"),
      "name STRING, cnt BIGINT, null_cnt BIGINT, ndv BIGINT, " +
        "min_s STRING, max_s STRING, mean DOUBLE, p50 DOUBLE, p95 DOUBLE"),
    PipelineQueries.q_profile.oracle)

  /** Served grouped census: `profile(by:)` over documents per language —
    * same metrics and oracle as q_profile_by through the full service
    * path. */
  val q_gql_profile_by = Q(
    "q_gql_profile_by",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: documents {
           p: profile(by: ["lang"], columns: ["n_chars", "source"],
                      exact: true) {
             o: order(by: ["lang", "name"]) {
               c: columns { lang { values } name { values } cnt { values }
                            null_cnt { values } ndv { values }
                            min_s { values } max_s { values }
                            mean { values } p50 { values } p95 { values } } } } } }""",
      Seq("t", "p", "o", "c"),
      "lang STRING, name STRING, cnt BIGINT, null_cnt BIGINT, ndv BIGINT, " +
        "min_s STRING, max_s STRING, mean DOUBLE, p50 DOUBLE, p95 DOUBLE"),
    PipelineQueries.q_profile_by.oracle)

  /** Served broadcast-counts rankings: a rank-only window document above
    * a forced flip threshold — the served ranking block dispatches
    * through rankingsAuto, which takes the counts strategy (no payload
    * sort) for the low-NDV (l_returnflag, l_quantity) tuple; the oracle
    * is the plain window semantics, proving the strategies agree through
    * the FULL service path. */
  val q_gql_window_rank_counts = Q(
    "q_gql_window_rank_counts",
    (s, dir) => {
      s.conf.set("spark.graft.rankings.flipRows", "100")
      try GqlBridge.frame(s, dir,
        """{ t: lineitem {
             w: window(over: ["l_returnflag"], by: ["-l_quantity"],
                       rank: "rk0", denseRank: "dr0", percentRank: "pr") {
               o: order(by: ["l_returnflag", "rk0", "l_orderkey",
                             "l_linenumber"]) {
                 c: columns { l_returnflag { values } l_orderkey { values }
                              l_linenumber { values } rk0 { values }
                              dr0 { values } pr { values } } } } } }""",
        Seq("t", "w", "o", "c"),
        "l_returnflag STRING, l_orderkey BIGINT, l_linenumber INT, " +
          "rk0 INT, dr0 INT, pr DOUBLE")
      finally s.conf.unset("spark.graft.rankings.flipRows")
    },
    Some("""SELECT l_returnflag, l_orderkey, l_linenumber,
            CAST(rank() OVER w - 1 AS INTEGER) AS rk0,
            CAST(dense_rank() OVER w - 1 AS INTEGER) AS dr0,
            percent_rank() OVER w AS pr
            FROM lineitem
            WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity DESC)
            ORDER BY l_returnflag, rk0, l_orderkey, l_linenumber"""))

  def all: Seq[Q] = Seq(q_gql_alltypes, q_gql_unnest, q_gql_runs,
    q_gql_runs_filtered, q_gql_distinct,
    q_gql_column, q_gql_window_expr, q_gql_filter, q_gql_group, q_gql_first_last,
    q_gql_argmax, q_gql_quantile, q_gql_concat, q_gql_window,
    q_gql_window_rank,
    q_gql_ntile_lead, q_gql_project, q_gql_cast, q_gql_fillnull,
    q_gql_dropnull, q_gql_union, q_gql_intersect, q_gql_crossjoin,
    q_gql_takefrom, q_gql_sql, q_gql_cumsum, q_gql_vars_frag,
    q_gql_entities, q_gql_optional,
    q_gql_order_slice, q_gql_dedup, q_gql_decontaminate, q_gql_split,
    q_gql_mix, q_gql_shuffle, q_gql_reservoir, q_gql_tfidf,
    q_gql_dedup_spans, q_gql_dedup_substr, q_gql_text_stats, q_gql_chunks,
    q_gql_search, q_gql_search_min, q_gql_phrase, q_gql_bm25,
    q_gql_bm25_filtered, q_gql_phrase_filtered,
    q_gql_token_budget,
    q_gql_scrub, q_gql_imagemeta, q_gql_media_features,
    q_gql_fingerprint, q_gql_pack, q_gql_ann, q_gql_ann_lsh,
    q_gql_ann_vector, q_gql_map, q_gql_knn_join, q_gql_knn_join_auto,
    q_gql_snapshot_diff,
    q_gql_embed_project, q_gql_quality, q_gql_dsir, q_gql_profile,
    q_gql_profile_by, q_gql_window_rank_counts)
}
