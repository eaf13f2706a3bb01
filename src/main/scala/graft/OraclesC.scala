package graft

/** Oracle-SQL registry slice C (q200…q271, 89 entries) —
  * split out of SparkEntry so the per-batch oracle constants stop
  * being a single merge hot-spot (r14 verdict #4).  Pure data: the
  * assembled map is `SparkEntry.oracleSql`; the determinism rules
  * live in SparkEntry's scaladoc and every entry still pairs 1:1
  * with a `queries` entry of the same name.
  */
private[graft] trait OraclesC extends OracleHelpers {

  protected def oraclesC: Map[String, String] = Map(
    "q200_tpch_q18" ->
      """WITH big AS (SELECT l_orderkey,
        |    CAST(sum(l_quantity) AS BIGINT) AS total_qty
        |  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 250)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice,
        |  total_qty
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_qty DESC, o_orderkey""".stripMargin,
    // Q15: the max-match compares exact DECIMAL revenue (never the
    // double projection), so ties and the winner are bit-determined
    // on both engines; s_suppkey orders any ties,
    "q201_tpch_q15" ->
      """WITH rev AS (SELECT l_suppkey,
        |    sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, s_nationkey,
        |  CAST(total_rev AS DOUBLE) AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev = (SELECT max(total_rev) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    // Q6: one exact DECIMAL sum over the fully-pushed-down predicate;
    // the double cast happens once, after the sum,
    "q202_tpch_q6" ->
      """SELECT
        |  CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE)
        |    AS revenue_change,
        |  count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    // Q2: the oracle keeps the canonical correlated-min form; the
    // derived cost (min unit price per part×supplier) is IEEE double
    // division + MIN — order-independent on both engines,
    "q203_tpch_q2" ->
      """WITH nr AS (SELECT n_nationkey, n_name FROM nation
        |    JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA'),
        |sup AS (SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier JOIN nr ON s_nationkey = n_nationkey),
        |ps AS (SELECT l_partkey, l_suppkey,
        |    min(l_extendedprice / l_quantity) AS supply_cost
        |  FROM lineitem GROUP BY 1, 2),
        |offers AS (SELECT p_partkey, p_name, s_acctbal, s_name, n_name, supply_cost
        |  FROM ps JOIN sup ON l_suppkey = s_suppkey
        |  JOIN part ON l_partkey = p_partkey
        |  WHERE p_size <= 10 AND p_type = 'ECONOMY')
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name, supply_cost
        |FROM offers o
        |WHERE supply_cost = (SELECT min(supply_cost) FROM offers i
        |  WHERE i.p_partkey = o.p_partkey)
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,
    // Q11: exact decimal part values; the fraction threshold compares
    // doubles both engines derive from the same exact sums,
    "q204_tpch_q11" ->
      """WITH sup AS (SELECT s_suppkey FROM supplier
        |    JOIN nation ON s_nationkey = n_nationkey WHERE n_name = 'NATION_3'),
        |v AS (SELECT l_partkey,
        |    sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS val
        |  FROM lineitem JOIN sup ON l_suppkey = s_suppkey GROUP BY 1)
        |SELECT l_partkey, CAST(val AS DOUBLE) AS part_value
        |FROM v
        |WHERE CAST(val AS DOUBLE) > (SELECT CAST(sum(val) AS DOUBLE) FROM v) * 0.001
        |ORDER BY part_value DESC, l_partkey""".stripMargin,
    // Q16: all-integer output; negative s_acctbal stands in for the
    // complaints blacklist (no s_comment in this schema),
    "q205_tpch_q16" ->
      """WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        |  WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0))
        |SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM pairs JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    // Q20: lifetime and windowed quantity as exact DECIMAL sums in one
    // grouped pass; the ½ comparison on doubles from those exact sums,
    "q206_tpch_q20" ->
      """WITH fp AS (SELECT p_partkey FROM part WHERE p_name LIKE 'red%'),
        |sq AS (SELECT l_suppkey,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty,
        |    sum(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
        |          AND l_shipdate < TIMESTAMP '1997-01-01'
        |        THEN CAST(l_quantity AS DECIMAL(18,2))
        |        ELSE CAST(0 AS DECIMAL(18,2)) END) AS win_qty
        |  FROM lineitem JOIN fp ON l_partkey = p_partkey
        |  GROUP BY l_suppkey, l_partkey)
        |SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey IN (SELECT l_suppkey FROM sq
        |  WHERE CAST(total_qty AS DOUBLE) > 50
        |    AND CAST(win_qty AS DOUBLE) > 0.5 * CAST(total_qty AS DOUBLE))
        |ORDER BY s_suppkey""".stripMargin,
    // Q21: per-order distinct/late-distinct counts replace the
    // EXISTS/NOT EXISTS pair; numwait counts DISTINCT orders,
    "q207_tpch_q21" ->
      """WITH lo AS (SELECT l_orderkey, l_suppkey,
        |    (l_shipdate > o_orderdate + INTERVAL 60 DAY) AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |per AS (SELECT l_orderkey, count(DISTINCT l_suppkey) AS nsupp,
        |    count(DISTINCT CASE WHEN late THEN l_suppkey END) AS nlate
        |  FROM lo GROUP BY 1),
        |sup AS (SELECT s_suppkey, s_name FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey WHERE n_name = 'NATION_9')
        |SELECT s_name, count(DISTINCT lo.l_orderkey) AS numwait
        |FROM lo JOIN per ON lo.l_orderkey = per.l_orderkey
        |JOIN sup ON lo.l_suppkey = s_suppkey
        |WHERE late AND nsupp > 1 AND nlate = 1
        |GROUP BY 1
        |ORDER BY numwait DESC, s_name""".stripMargin,
    // Q22: the average is exact-decimal sum / count cast once; the
    // balance compare is double > double, identical on both engines,
    "q208_tpch_q22" ->
      """WITH cust AS (SELECT c_custkey, c_nationkey, c_acctbal FROM customer
        |  WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)),
        |ab AS (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |    / count(*) AS avg_bal
        |  FROM cust WHERE c_acctbal > 0)
        |SELECT c_nationkey, count(*) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM cust, ab
        |WHERE c_acctbal > avg_bal
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,
    // recall audits wrap each tier's oracle body unchanged in a
    // subquery (tierRecallSql), so index and audit share one SQL,
    "q209_ivf_recall" -> tierRecallSql(ivfAnnSql, 6, 3),
    "q210_pq_recall" -> tierRecallSql(pqAnnSql, 10, 5),
    "q211_ivfpq_recall" -> tierRecallSql(ivfPqAnnSql, 10, 5),
    // Q4: all-integer counts; EXISTS keeps the per-order grain exact,
    "q212_tpch_q4" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    // Q9: revenue and cost each cast DECIMAL(18,4) BEFORE the
    // subtract, summed exactly, one double cast at the end,
    "q213_tpch_q9" ->
      """SELECT n_name, CAST(year(l_shipdate) AS INTEGER) AS o_year,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))
        |    - CAST(0.6 * p_retailprice * l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%gear%'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1, 2
        |ORDER BY n_name, o_year DESC""".stripMargin,
    // Q12: two conditional integer counts in one pass,
    "q214_tpch_q12" ->
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    // Q17: per-part average = exact decimal sum / count, threshold on
    // doubles both engines derive identically; /7.0 once at the end,
    "q215_tpch_q17" ->
      """WITH pa AS (SELECT l_partkey,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty
        |  FROM lineitem GROUP BY 1)
        |SELECT count(*) AS n_lines,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#1'
        |JOIN pa ON pa.l_partkey = lineitem.l_partkey
        |WHERE l_quantity < 0.5 * avg_qty""".stripMargin,
    // Q19: one disjunctive predicate post-join — the oracle keeps the
    // literal OR-of-ANDs form,
    "q216_tpch_q19" ->
      """SELECT count(*) AS n_lines,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
        |    AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
        |       AND l_quantity BETWEEN 10 AND 35)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
        |       AND l_quantity BETWEEN 20 AND 50)""".stripMargin,
    // power iteration: v0 = 1/sqrt(64) = 0.125 exactly; three
    // unrolled steps; w sums quantize-then-exact-sum; the final
    // loading/eigval come from the LAST step's w fold,
    "q217_principal_component" -> principalComponentSql,
    // int8 audit: max|x| via 0.0-seeded greatest fold; the explicit
    // floor(x/scale + 0.5) half-up (round()'s tie rule differs across
    // engines); cross-row means quantize each term to femto-units
    // (floor(t·1e15 + 0.5)) and sum as exact DECIMAL(38,0) integers —
    // NOT DECIMAL(38,18) casts, which drift 1 ulp cross-engine,
    "q218_quant_audit" ->
      """WITH q AS (SELECT label, vec_id, embedding,
        |  list_reduce(list_prepend(0.0e0,
        |    list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
        |    (a, b) -> greatest(a, b)) / 127.0 AS scale
        |  FROM embeddings),
        |m AS (SELECT label, vec_id, scale,
        |  CASE WHEN scale = 0.0 THEN 0.0 ELSE
        |    list_reduce(list_prepend(0.0e0, list_transform(embedding, x ->
        |      (CAST(x AS DOUBLE)
        |        - least(greatest(floor(CAST(x AS DOUBLE) / scale + 0.5), -127.0), 127.0) * scale)
        |      * (CAST(x AS DOUBLE)
        |        - least(greatest(floor(CAST(x AS DOUBLE) / scale + 0.5), -127.0), 127.0) * scale))),
        |      (a, b) -> a + b) / CAST(len(embedding) AS DOUBLE) END AS mse
        |  FROM q)
        |SELECT label, count(*) AS n_vecs,
        |  CAST(sum(CAST(floor(mse * 1.0e15 + 0.5) AS DECIMAL(38,0))) AS DOUBLE)
        |    / 1.0e15 / CAST(count(*) AS DOUBLE) AS mean_mse,
        |  max(mse) AS max_mse,
        |  CAST(sum(CAST(floor(scale * 1.0e15 + 0.5) AS DECIMAL(38,0))) AS DOUBLE)
        |    / 1.0e15 / CAST(count(*) AS DOUBLE) AS mean_scale
        |FROM m GROUP BY label
        |ORDER BY label""".stripMargin,
    // shard = md5 hex digits 17-20 mod 12 (independent of the
    // q63/q75/q98/q134 digit ranges); all-integer until the one skew
    // divide
    // anisotropy: the direction list re-assembles q217's output in d
    // order inside a subquery; projections fold with the 0.0 seed;
    // means follow the quantize-then-exact-sum rule at nano units,
    "q220_source_anisotropy" ->
      s"""WITH pc AS (SELECT list(loading ORDER BY d) AS v FROM (
         |$principalComponentSql
         |) z),
         |pj AS (SELECT dd.source,
         |  list_reduce(list_prepend(0.0e0,
         |    [CAST(e.embedding[j] AS DOUBLE) * pc.v[j] FOR j IN range(1, 65)]),
         |    (a, b) -> a + b) AS proj
         |  FROM embeddings e
         |  JOIN documents dd ON e.vec_id = dd.doc_id
         |  CROSS JOIN pc)
         |SELECT source, count(*) AS n_vecs,
         |  CAST(sum(CAST(floor(proj * 1.0e9 + 0.5) AS DECIMAL(38,0))) AS DOUBLE)
         |    / 1.0e9 / CAST(count(*) AS DOUBLE) AS mean_proj,
         |  CAST(sum(CAST(floor(abs(proj) * 1.0e9 + 0.5) AS DECIMAL(38,0))) AS DOUBLE)
         |    / 1.0e9 / CAST(count(*) AS DOUBLE) AS mean_abs_proj
         |FROM pj GROUP BY source
         |ORDER BY source""".stripMargin,
    // fertility: exact integer sums, three final divides; strlen is
    // DuckDB's byte length (Spark octet_length),
    "q221_token_fertility" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
        |  CAST(sum(strlen(text)) AS BIGINT) AS n_bytes,
        |  CAST(CAST(sum(length(text)) AS BIGINT) AS DOUBLE)
        |    / CAST(CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS DOUBLE) AS chars_per_token,
        |  CAST(CAST(sum(strlen(text)) AS BIGINT) AS DOUBLE)
        |    / CAST(CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS DOUBLE) AS bytes_per_token,
        |  CAST(CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS tokens_per_doc
        |FROM documents GROUP BY source
        |ORDER BY source""".stripMargin,
    // mixture execution: quotas are pure integer ceil-division; the
    // fill ranks md5 digits 21-24 (doc_id tiebreak); token sums exact,
    "q225_mixture_sample" ->
      """WITH d AS (SELECT source, doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
        |per AS (SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM d GROUP BY source),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  count(*) AS n_sources FROM per),
        |pl AS (SELECT source, n_docs, n_tokens,
        |  CAST(floor(0.2 * CAST(total_tokens AS DOUBLE)
        |    / CAST(n_sources AS DOUBLE)) AS BIGINT) AS token_budget
        |  FROM per CROSS JOIN tot),
        |pq AS (SELECT *, (token_budget * n_docs + n_tokens - 1) // n_tokens
        |    AS quota_docs FROM pl),
        |pr AS (SELECT source, doc_id, n_tok, CAST(
        |  ((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 21, 1)) - 1) * 4096
        | + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 22, 1)) - 1) * 256
        | + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 23, 1)) - 1) * 16
        | + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 24, 1)) - 1)) AS INTEGER) AS priority
        | FROM d),
        |r AS (SELECT *, row_number() OVER (PARTITION BY source
        |  ORDER BY priority, doc_id) AS rank FROM pr),
        |tk AS (SELECT r.source, count(*) AS taken_docs,
        |  CAST(sum(r.n_tok) AS BIGINT) AS taken_tokens
        |  FROM r JOIN pq ON r.source = pq.source AND r.rank <= pq.quota_docs
        |  GROUP BY r.source)
        |SELECT pq.source, pq.n_docs, pq.n_tokens, pq.token_budget, pq.quota_docs,
        |  tk.taken_docs, tk.taken_tokens,
        |  CAST(tk.taken_tokens AS DOUBLE) / CAST(pq.token_budget AS DOUBLE) AS budget_share
        |FROM pq JOIN tk ON pq.source = tk.source
        |ORDER BY pq.source""".stripMargin,
    // streaming tier (q226-q228): the oracle replays the BATCH
    // semantics the stream must converge to — epoch-hour windows,
    // gaps-and-islands sessions (new session only when the in-user
    // gap is STRICTLY > 30 min — Spark merges an event landing
    // exactly at the previous session's end, pinned by the
    // StreamBatchTwinSpec boundary test; end = last event + gap),
    // and plain aggregates the dedup-under-replay stream must
    // reproduce; all sums quantized-integer (order-independent),
    "q226_stream_windows" ->
      """SELECT epoch_us(date_trunc('hour', ts)) AS win_us, event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(floor(value * 1.0e6 + 0.5) AS BIGINT)) AS BIGINT) AS value_units
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q227_stream_sessions" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us,
        |    CAST(floor(value * 1.0e6 + 0.5) AS BIGINT) AS v FROM events),
        |o AS (SELECT user_id, us, v,
        |  CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
        |       > 1800000000 THEN 1 ELSE 0 END AS brk FROM e),
        |g AS (SELECT user_id, us, v, sum(brk) OVER (PARTITION BY user_id
        |  ORDER BY us ROWS UNBOUNDED PRECEDING) AS grp FROM o),
        |s AS (SELECT user_id, min(us) AS session_start_us,
        |    max(us) + 1800000000 AS session_end_us,
        |    count(*) AS n_events, CAST(sum(v) AS BIGINT) AS value_units
        |  FROM g GROUP BY user_id, grp)
        |SELECT session_start_us, session_end_us, user_id, n_events, value_units
        |FROM s""".stripMargin,
    "q228_stream_dedup" ->
      """SELECT count(*) AS n_events,
        |  CAST(sum(event_id) AS BIGINT) AS id_sum,
        |  CAST(sum(CAST(floor(value * 1.0e6 + 0.5) AS BIGINT)) AS BIGINT) AS value_units
        |FROM events""".stripMargin,
    "q229_stream_join" ->
      """SELECT p.event_id AS purchase_id, p.user_id, v.event_id AS view_id,
        |  epoch_us(p.ts) AS p_us, epoch_us(v.ts) AS v_us
        |FROM events p JOIN events v
        |  ON p.event_type = 'purchase' AND v.event_type = 'view'
        |  AND v.user_id = p.user_id
        |  AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR""".stripMargin,
    // q230 ingest: the sink must hold exactly the global
    // min-id-per-fingerprint survivors (q20's fp expression) — the
    // oracle states the whole streamed store/dedup/sink pipeline as
    // one GROUP BY over the fixture,
    "q230_stream_ingest" ->
      """WITH d AS (SELECT doc_id, source,
        |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
        |  FROM documents),
        |s AS (SELECT fp, min(doc_id) AS keeper FROM d GROUP BY fp),
        |k AS (SELECT d.source, d.doc_id FROM d
        |  JOIN s ON d.fp = s.fp AND d.doc_id = s.keeper)
        |SELECT source, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM k GROUP BY source""".stripMargin,
    // cell-bounded pairs share q54's trained-cell CTEs verbatim; the
    // recall audit wraps the exact and cell bodies unchanged,
    "q223_cell_pairs" -> cellPairsSql,
    "q224_pair_recall" ->
      s"""WITH ex AS (SELECT vec_a, vec_b FROM (
         |$thresholdPairsSql
         |) x),
         |fnd AS (SELECT vec_a, vec_b FROM (
         |$cellPairsSql
         |) y),
         |j AS (SELECT ex.vec_a,
         |  CASE WHEN fnd.vec_a IS NULL THEN 0 ELSE 1 END AS hit
         |  FROM ex LEFT JOIN fnd
         |    ON ex.vec_a = fnd.vec_a AND ex.vec_b = fnd.vec_b)
         |SELECT count(*) AS n_exact, CAST(sum(hit) AS BIGINT) AS n_found,
         |  CAST(sum(hit) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS pair_recall
         |FROM j""".stripMargin,
    // TWAP: hold durations are exact integer micros from the
    // (us, event_id)-ordered lead (last event holds to midnight);
    // DECIMAL(18,2)-value × BIGINT-micros products sum exactly; the
    // one divide by the exact integer span happens on doubles,
    "q222_twap" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us,
        |    epoch_us(ts) // 86400000000 AS day, value FROM events),
        |h AS (SELECT user_id, day, value,
        |  coalesce(lead(us) OVER (PARTITION BY user_id, day
        |      ORDER BY us, event_id),
        |    (day + 1) * 86400000000) - us AS hold_us
        |  FROM e)
        |SELECT user_id, day,
        |  CAST(DATE '1970-01-01' + CAST(day AS INTEGER) AS VARCHAR) AS day_date,
        |  count(*) AS n_events,
        |  CAST(sum(hold_us) AS BIGINT) AS span_us,
        |  CAST(sum(CAST(value AS DECIMAL(12,2)) * hold_us) AS DOUBLE)
        |    / CAST(CAST(sum(hold_us) AS BIGINT) AS DOUBLE) AS twap
        |FROM h GROUP BY user_id, day
        |ORDER BY user_id, day""".stripMargin,
    "q219_shard_balance" ->
      """WITH pr AS (SELECT doc_id, n_chars, CAST(
        |  ((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 17, 1)) - 1) * 4096
        | + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 18, 1)) - 1) * 256
        | + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 19, 1)) - 1) * 16
        | + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 20, 1)) - 1)) % 12 AS INTEGER) AS shard
        | FROM documents),
        |s AS (SELECT shard, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars
        |  FROM pr GROUP BY 1),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total_docs FROM s)
        |SELECT shard, n_docs, n_chars,
        |  CAST(n_docs AS DOUBLE) / (CAST(total_docs AS DOUBLE) / 12.0) AS doc_skew
        |FROM s, t
        |ORDER BY shard""".stripMargin,
    // discount terms ln(2)/ln(rank+1); DCG and ideal-DCG fold in rank
    // order from a 0.0 seed, the per-label mean in probe order (q165),
    "q188_ndcg" ->
      s"""WITH el AS (SELECT vec_id, label, embedding,
         |  sqrt(list_reduce(list_transform(embedding,
         |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS nrm
         |  FROM embeddings),
         |pairs AS (SELECT p.vec_id AS probe_id, p.label AS probe_label,
         |    c.vec_id AS neighbor_id, c.label AS n_label,
         |    ${dotSql("p.embedding", "c.embedding")} / (p.nrm * c.nrm) AS cos
         |  FROM el p JOIN el c ON p.vec_id < 50 AND p.vec_id <> c.vec_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY probe_id
         |  ORDER BY cos DESC, neighbor_id) AS rank FROM pairs),
         |h AS (SELECT probe_id,
         |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list_transform(list(rank ORDER BY rank),
         |      x -> ln(CAST(2.0 AS DOUBLE)) / ln(CAST(x + 1 AS DOUBLE)))),
         |    (a, b) -> a + b) AS dcg
         |  FROM r WHERE rank <= 20 AND n_label = probe_label GROUP BY probe_id),
         |ls AS (SELECT label, count(*) AS n_label FROM embeddings GROUP BY label),
         |pr AS (SELECT vec_id AS probe_id, label AS probe_label
         |  FROM embeddings WHERE vec_id < 50),
         |pp AS (SELECT pr.probe_id, pr.probe_label,
         |  least(ls.n_label - 1, 20) AS m, coalesce(h.dcg, 0.0) AS dcg
         |  FROM pr JOIN ls ON ls.label = pr.probe_label
         |  LEFT JOIN h ON h.probe_id = pr.probe_id),
         |nd AS (SELECT probe_id, probe_label, dcg,
         |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list_transform(range(1, m + 1),
         |      i -> ln(CAST(2.0 AS DOUBLE)) / ln(CAST(i + 1 AS DOUBLE)))),
         |    (a, b) -> a + b) AS idcg
         |  FROM pp),
         |f AS (SELECT probe_id, probe_label,
         |  CASE WHEN idcg > 0 THEN dcg / idcg ELSE 0.0 END AS ndcg FROM nd)
         |SELECT probe_label, count(*) AS n_probes,
         |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(ndcg ORDER BY probe_id)),
         |    (a, b) -> a + b) / CAST(count(*) AS DOUBLE) AS mean_ndcg
         |FROM f GROUP BY probe_label""".stripMargin,
    // D_t = N·P_t − t·S stays integral (the deferred-/N trick), so
    // the argmax of |D| is an integer sort; one divide at the end,
    "q183_cusum" ->
      """WITH d AS (SELECT epoch_ms(ts) // 86400000 AS day, count(*) AS c
        |  FROM events GROUP BY 1),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM d),
        |cal AS (SELECT unnest(range(d0, d1 + 1)) AS day FROM b),
        |z AS (SELECT cal.day AS day, coalesce(d.c, 0) AS c
        |  FROM cal LEFT JOIN d ON d.day = cal.day),
        |t AS (SELECT count(*) AS n, sum(c) AS s FROM z),
        |p AS (SELECT day,
        |  row_number() OVER (ORDER BY day) AS t_idx,
        |  sum(c) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS pf
        |  FROM z),
        |dv AS (SELECT day, n,
        |  CAST(n AS HUGEINT) * pf - CAST(t_idx AS HUGEINT) * s AS dev
        |  FROM p, t)
        |SELECT n AS n_days, day AS change_day,
        |  CAST(dev AS DOUBLE) / CAST(n AS DOUBLE) AS cusum_dev,
        |  CASE WHEN dev > 0 THEN 1 WHEN dev < 0 THEN -1 ELSE 0 END AS direction
        |FROM dv ORDER BY abs(dev) DESC, day ASC LIMIT 1""".stripMargin,
    // integer midpoint split ((d0+d1+1)//2); one conditional-count
    // agg; p-hat/z written in the Spark operation order,
    "q184_prop_test" ->
      """WITH e AS (SELECT epoch_ms(ts) // 86400000 AS day, event_type FROM events),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM e),
        |g AS (SELECT
        |  CAST(sum(CASE WHEN day < (d0 + d1 + 1) // 2 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |  CAST(sum(CASE WHEN day < (d0 + d1 + 1) // 2
        |    AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS x1,
        |  CAST(sum(CASE WHEN day >= (d0 + d1 + 1) // 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |  CAST(sum(CASE WHEN day >= (d0 + d1 + 1) // 2
        |    AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS x2
        |  FROM e, b)
        |SELECT n1, x1, n2, x2,
        |  CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
        |  CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS p2,
        |  (CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |    - CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE))
        |  / sqrt((CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
        |    * (1.0 - CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
        |    * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE))) AS z_stat
        |FROM g""".stripMargin,
    // graft_jw is built to DuckDB's jaro_winkler_similarity contract
    // (fuzzed bit-identical; see StringExpressions scaladoc), so the
    // similarity column hash-matches; winner = rank-1 of the same
    // (jw DESC, name ASC) total order,
    "q181_name_reconcile" ->
      """WITH names AS (SELECT p_name, count(*) AS n_parts FROM part GROUP BY p_name),
        |scored AS (SELECT a.p_name AS name_a, a.n_parts AS n_a,
        |    b.p_name AS name_b, b.n_parts AS n_b,
        |    jaro_winkler_similarity(a.p_name, b.p_name) AS jw,
        |    row_number() OVER (PARTITION BY a.p_name
        |      ORDER BY jaro_winkler_similarity(a.p_name, b.p_name) DESC,
        |        b.p_name ASC) AS rn
        |  FROM names a JOIN names b ON a.p_name <> b.p_name)
        |SELECT name_a, n_a, name_b AS best_match, n_b AS n_best, jw
        |FROM scored WHERE rn = 1""".stripMargin,
    // weekday by integer arithmetic only ((day+3) mod 7, 0=Monday);
    // the two-divide chains written in the Spark order,
    "q182_weekday_index" ->
      """WITH d AS (SELECT epoch_ms(ts) // 86400000 AS day, count(*) AS c
        |  FROM events GROUP BY 1),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM d),
        |cal AS (SELECT unnest(range(d0, d1 + 1)) AS day FROM b),
        |z AS (SELECT (cal.day + 3) % 7 AS dow, coalesce(d.c, 0) AS c
        |  FROM cal LEFT JOIN d ON d.day = cal.day),
        |t AS (SELECT count(*) AS n_all, sum(c) AS s_all FROM z),
        |g AS (SELECT dow, count(*) AS n_days, CAST(sum(c) AS BIGINT) AS n_events
        |  FROM z GROUP BY dow)
        |SELECT dow, n_days, n_events,
        |  CAST(n_events AS DOUBLE) / CAST(n_days AS DOUBLE) AS mean_count,
        |  (CAST(n_events AS DOUBLE) / CAST(n_days AS DOUBLE))
        |    / (CAST(s_all AS DOUBLE) / CAST(n_all AS DOUBLE)) AS seasonal_index
        |FROM g, t""".stripMargin,
    // patterns restricted to the Java-regex/RE2 common subset
    // (literal classes + counted quantifiers) so match sets agree;
    // len(regexp_extract_all) mirrors Spark's size() count,
    "q179_pii_scan" ->
      """WITH c AS (SELECT source,
        |  len(regexp_extract_all(text, '[a-z0-9]+@[a-z0-9]+\.[a-z]+')) AS em,
        |  len(regexp_extract_all(text, 'http[s]?://[a-z0-9./]+')) AS ur,
        |  len(regexp_extract_all(text, '[0-9]{7,}')) AS dg
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN em > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_email,
        |  CAST(sum(em) AS BIGINT) AS hits_email,
        |  CAST(sum(CASE WHEN ur > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_url,
        |  CAST(sum(ur) AS BIGINT) AS hits_url,
        |  CAST(sum(CASE WHEN dg > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_digits,
        |  CAST(sum(dg) AS BIGINT) AS hits_digits
        |FROM c GROUP BY source""".stripMargin,
    // the 3σ test as a pure integer comparison — (N·x−S)² vs
    // 9(N·Q−S²) in HUGEINT — so boundary events classify identically
    // by construction; mean converts exact sums with two divides,
    "q180_value_outliers" ->
      """WITH e AS (SELECT event_type,
        |  CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS x FROM events),
        |m AS (SELECT event_type, count(*) AS n,
        |  sum(CAST(x AS HUGEINT)) AS s, sum(CAST(x AS HUGEINT) * x) AS q
        |  FROM e GROUP BY event_type)
        |SELECT e.event_type, max(n) AS n_events,
        |  CAST(sum(CASE WHEN (CAST(n AS HUGEINT) * x - s) * (CAST(n AS HUGEINT) * x - s)
        |      > 9 * (CAST(n AS HUGEINT) * q - s * s) THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers,
        |  CAST(sum(CASE WHEN (CAST(n AS HUGEINT) * x - s) * (CAST(n AS HUGEINT) * x - s)
        |      > 9 * (CAST(n AS HUGEINT) * q - s * s) THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(max(n) AS DOUBLE) AS outlier_rate,
        |  (CAST(max(s) AS DOUBLE) / CAST(max(n) AS DOUBLE)) / 1000000.0 AS mean_value
        |FROM e JOIN m ON m.event_type = e.event_type
        |GROUP BY e.event_type""".stripMargin,
    // per-column null/distinct counts via UNION ALL — integer counts
    // only, no value formatting crosses the engine boundary,
    "q177_column_profile" ->
      """SELECT 'o_orderkey' AS column_name,
        |  count(*) - count(o_orderkey) AS n_nulls,
        |  count(DISTINCT o_orderkey) AS n_distinct FROM orders
        |UNION ALL SELECT 'o_custkey', count(*) - count(o_custkey),
        |  count(DISTINCT o_custkey) FROM orders
        |UNION ALL SELECT 'o_orderstatus', count(*) - count(o_orderstatus),
        |  count(DISTINCT o_orderstatus) FROM orders
        |UNION ALL SELECT 'o_totalprice', count(*) - count(o_totalprice),
        |  count(DISTINCT o_totalprice) FROM orders
        |UNION ALL SELECT 'o_orderdate', count(*) - count(o_orderdate),
        |  count(DISTINCT o_orderdate) FROM orders
        |UNION ALL SELECT 'o_orderpriority', count(*) - count(o_orderpriority),
        |  count(DISTINCT o_orderpriority) FROM orders""".stripMargin,
    // FK orphans as NOT EXISTS (the anti-join), date violations as
    // one keyed join + predicate — all exact integer counts,
    "q178_integrity" ->
      """SELECT 'lineitem_without_order' AS check_name,
        |  count(*) AS n_violations FROM lineitem l
        |  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |UNION ALL SELECT 'order_without_customer', count(*) FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |UNION ALL SELECT 'order_without_lineitem', count(*) FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
        |UNION ALL SELECT 'ship_before_order', count(*)
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  WHERE l.l_shipdate < o.o_orderdate""".stripMargin,
    // melt as UNION ALL over the aggregated month frame — metric
    // names and the value arithmetic (exact decimal sum → one cast,
    // one divide for avg) mirror the Spark Expand branches,
    "q175_unpivot" ->
      """WITH m AS (SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS order_month,
        |  count(*) AS n, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev,
        |  max(o_totalprice) AS mx
        |  FROM orders GROUP BY 1)
        |SELECT order_month, 'n_orders' AS metric, CAST(n AS DOUBLE) AS value FROM m
        |UNION ALL SELECT order_month, 'revenue', rev FROM m
        |UNION ALL SELECT order_month, 'avg_price', rev / CAST(n AS DOUBLE) FROM m
        |UNION ALL SELECT order_month, 'max_price', mx FROM m""".stripMargin,
    // HHI = Σc²/T² — both HUGEINT-exact, ONE divide each for hhi /
    // eff_vocab / top_share; log-free by design (the q128 ulp rule),
    "q176_token_hhi" ->
      """WITH cs AS (SELECT source, token, count(*) AS c FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY source, token)
        |SELECT source, count(*) AS vocab,
        |  CAST(sum(c) AS BIGINT) AS total_tokens,
        |  CAST(sum(c * c) AS DOUBLE) / CAST(sum(c) * sum(c) AS DOUBLE) AS hhi,
        |  1.0 / (CAST(sum(c * c) AS DOUBLE) / CAST(sum(c) * sum(c) AS DOUBLE)) AS eff_vocab,
        |  CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top_share
        |FROM cs GROUP BY source""".stripMargin,
    // X_t = N·c_t − S keeps the ACF a ratio of exact integers (the
    // N² factors cancel); zero-filled calendar via range(); the lag
    // fan-out is the same day+k equi-join as the Spark plan,
    "q173_autocorr" ->
      """WITH d AS (SELECT epoch_ms(ts) // 86400000 AS day, count(*) AS c
        |  FROM events GROUP BY 1),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM d),
        |cal AS (SELECT unnest(range(d0, d1 + 1)) AS day FROM b),
        |z AS (SELECT cal.day AS day, coalesce(d.c, 0) AS c
        |  FROM cal LEFT JOIN d ON d.day = cal.day),
        |t AS (SELECT count(*) AS n, sum(c) AS s FROM z),
        |x AS (SELECT day, CAST(n AS HUGEINT) * c - CAST(s AS HUGEINT) AS x
        |  FROM z, t),
        |den AS (SELECT sum(x * x) AS den, count(*) AS n_days FROM x),
        |lags AS (SELECT unnest(range(1, 8)) AS lag),
        |num AS (SELECT lag, sum(a.x * bb.x) AS num
        |  FROM x a CROSS JOIN lags JOIN x bb ON bb.day = a.day + lag
        |  GROUP BY lag)
        |SELECT lag, n_days, CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS acf
        |FROM num, den""".stripMargin,
    // S and both variance terms are exact integer sums over the
    // calendar-bounded pair scan; one /18.0 and one sqrt at the end,
    // continuity-corrected z as the identical CASE,
    "q174_mann_kendall" ->
      """WITH d AS (SELECT epoch_ms(ts) // 86400000 AS day, count(*) AS c
        |  FROM events GROUP BY 1),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM d),
        |cal AS (SELECT unnest(range(d0, d1 + 1)) AS day FROM b),
        |z AS (SELECT cal.day AS day, coalesce(d.c, 0) AS c
        |  FROM cal LEFT JOIN d ON d.day = cal.day),
        |s AS (SELECT CAST(sum(CASE WHEN bb.c > a.c THEN 1
        |  WHEN bb.c < a.c THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM z a JOIN z bb ON bb.day > a.day),
        |ties AS (SELECT CAST(coalesce(sum(CASE WHEN t > 1
        |  THEN t * (t - 1) * (2 * t + 5) END), 0) AS BIGINT) AS tie_term
        |  FROM (SELECT c, count(*) AS t FROM z GROUP BY c)),
        |n AS (SELECT count(*) AS n_days FROM z)
        |SELECT n_days, s_stat,
        |  CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_term AS DOUBLE)
        |    / 18.0 AS var_s,
        |  CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
        |    / sqrt(CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_term AS DOUBLE) / 18.0)
        |  WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
        |    / sqrt(CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_term AS DOUBLE) / 18.0)
        |  ELSE 0.0 END AS z_stat
        |FROM s, ties, n""".stripMargin,
    // cross-group Σ(Σx)²/n_g folds in source order (the q119/q163
    // ordered-fold rule); every moment is HUGEINT-exact until ONE
    // cast per term, formulas written in the Spark operation order,
    "q171_anova" ->
      """WITH cells AS (SELECT source, count(*) AS ng,
        |  sum(n_chars) AS sg, sum(n_chars * n_chars) AS qg
        |  FROM documents GROUP BY source),
        |tot AS (SELECT count(*) AS k, sum(ng) AS n,
        |  sum(sg) AS s, sum(qg) AS q FROM cells),
        |f AS (SELECT k, n, s, q,
        |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list(CAST(sg * sg AS DOUBLE) / CAST(ng AS DOUBLE) ORDER BY source)),
        |    (a, b) -> a + b) AS fold
        |  FROM cells, tot GROUP BY k, n, s, q)
        |SELECT k AS n_sources, CAST(n AS BIGINT) AS n_docs,
        |  fold - CAST(s * s AS DOUBLE) / CAST(n AS DOUBLE) AS ss_between,
        |  CAST(q AS DOUBLE) - fold AS ss_within,
        |  ((fold - CAST(s * s AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(k - 1 AS DOUBLE))
        |    / ((CAST(q AS DOUBLE) - fold) / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))) AS f_stat,
        |  (fold - CAST(s * s AS DOUBLE) / CAST(n AS DOUBLE))
        |    / (CAST(q AS DOUBLE) - CAST(s * s AS DOUBLE) / CAST(n AS DOUBLE)) AS eta_sq
        |FROM f""".stripMargin,
    // deterministic pair pick (n DESC, source ASC); v/n subterms
    // spelled identically everywhere so both engines share one IEEE
    // sequence for t, Welch-Satterthwaite df, and Cohen's d,
    "q172_welch" ->
      """WITH cells AS (SELECT source, count(*) AS ng,
        |  sum(n_chars) AS sg, sum(n_chars * n_chars) AS qg
        |  FROM documents GROUP BY source),
        |r AS (SELECT *, row_number() OVER (ORDER BY ng DESC, source ASC) AS rn
        |  FROM cells),
        |p AS (SELECT
        |  max(CASE WHEN rn = 1 THEN source END) AS source_a,
        |  max(CASE WHEN rn = 2 THEN source END) AS source_b,
        |  max(CASE WHEN rn = 1 THEN ng END) AS na,
        |  max(CASE WHEN rn = 2 THEN ng END) AS nb,
        |  max(CASE WHEN rn = 1 THEN sg END) AS sa,
        |  max(CASE WHEN rn = 2 THEN sg END) AS sb,
        |  max(CASE WHEN rn = 1 THEN qg END) AS qa,
        |  max(CASE WHEN rn = 2 THEN qg END) AS qb
        |  FROM r WHERE rn <= 2),
        |v AS (SELECT source_a, source_b, na, nb,
        |  CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS ma,
        |  CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mb,
        |  CAST(na * qa - sa * sa AS DOUBLE) / CAST(na * (na - 1) AS DOUBLE) AS va,
        |  CAST(nb * qb - sb * sb AS DOUBLE) / CAST(nb * (nb - 1) AS DOUBLE) AS vb
        |  FROM p)
        |SELECT source_a, source_b,
        |  CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  ma AS mean_a, mb AS mean_b,
        |  (ma - mb) / sqrt(va / CAST(na AS DOUBLE) + vb / CAST(nb AS DOUBLE)) AS t_stat,
        |  ((va / CAST(na AS DOUBLE) + vb / CAST(nb AS DOUBLE))
        |    * (va / CAST(na AS DOUBLE) + vb / CAST(nb AS DOUBLE)))
        |    / ((va / CAST(na AS DOUBLE)) * (va / CAST(na AS DOUBLE)) / (CAST(na AS DOUBLE) - 1.0)
        |      + (vb / CAST(nb AS DOUBLE)) * (vb / CAST(nb AS DOUBLE)) / (CAST(nb AS DOUBLE) - 1.0)) AS df_welch,
        |  (ma - mb) / sqrt(((CAST(na AS DOUBLE) - 1.0) * va
        |    + (CAST(nb AS DOUBLE) - 1.0) * vb)
        |    / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 2.0)) AS cohen_d
        |FROM v""".stripMargin,
    // q118's integer moments reused for the fit: slope/intercept/R²
    // written in the same operation order as the Spark select so both
    // engines perform the identical IEEE sequence,
    "q170_grouped_ols" ->
      s"""WITH d AS (SELECT source, n_chars AS x,
         |  CAST(floor(($qualitySql) * 1000000.0 + 0.5) AS BIGINT) AS y
         |  FROM documents),
         |s AS (SELECT source, count(*) AS n_docs,
         |  CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
         |  CAST(sum(x * y) AS DOUBLE) AS sxy,
         |  CAST(sum(x * x) AS DOUBLE) AS sxx,
         |  CAST(sum(y * y) AS DOUBLE) AS syy
         |  FROM d GROUP BY source)
         |SELECT source, n_docs,
         |  (n_docs * sxy - sx * sy) / (n_docs * sxx - sx * sx) AS slope,
         |  (sy - ((n_docs * sxy - sx * sy) / (n_docs * sxx - sx * sx)) * sx)
         |    / n_docs AS intercept,
         |  ((n_docs * sxy - sx * sy) * (n_docs * sxy - sx * sy)) /
         |  ((n_docs * sxx - sx * sx) * (n_docs * syy - sy * sy)) AS r2
         |FROM s""".stripMargin,
    // exact quartile cut values at ranks ceil(n/4)/ceil(n/2)/
    // ceil(3n/4), value-threshold scoring (ties share a score),
    // DECIMAL(18,2) money sums per the q09 rule,
    "q154_rfm" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us,
        |  CAST(value AS DECIMAL(18,2)) AS v FROM events),
        |mx AS (SELECT max(us) AS ref FROM e),
        |u AS (SELECT user_id, max(us) AS last_us, count(*) AS f, sum(v) AS m
        |  FROM e GROUP BY user_id),
        |r AS (SELECT user_id, (ref - last_us) // 86400000000 AS r_days, f, m
        |  FROM u, mx),
        |rr AS (SELECT *,
        |  row_number() OVER (ORDER BY r_days, user_id) AS rn_r,
        |  row_number() OVER (ORDER BY f, user_id) AS rn_f,
        |  row_number() OVER (ORDER BY m, user_id) AS rn_m,
        |  count(*) OVER () AS n FROM r),
        |q AS (SELECT
        |  max(CASE WHEN rn_r = ceil(0.25 * n) THEN r_days END) AS r_q1,
        |  max(CASE WHEN rn_r = ceil(0.5 * n) THEN r_days END) AS r_q2,
        |  max(CASE WHEN rn_r = ceil(0.75 * n) THEN r_days END) AS r_q3,
        |  max(CASE WHEN rn_f = ceil(0.25 * n) THEN f END) AS f_q1,
        |  max(CASE WHEN rn_f = ceil(0.5 * n) THEN f END) AS f_q2,
        |  max(CASE WHEN rn_f = ceil(0.75 * n) THEN f END) AS f_q3,
        |  max(CASE WHEN rn_m = ceil(0.25 * n) THEN m END) AS m_q1,
        |  max(CASE WHEN rn_m = ceil(0.5 * n) THEN m END) AS m_q2,
        |  max(CASE WHEN rn_m = ceil(0.75 * n) THEN m END) AS m_q3
        |  FROM rr),
        |s AS (SELECT r.user_id, r.m,
        |  1 + (CASE WHEN r.r_days > q.r_q1 THEN 1 ELSE 0 END)
        |    + (CASE WHEN r.r_days > q.r_q2 THEN 1 ELSE 0 END)
        |    + (CASE WHEN r.r_days > q.r_q3 THEN 1 ELSE 0 END) AS r_score,
        |  1 + (CASE WHEN r.f > q.f_q1 THEN 1 ELSE 0 END)
        |    + (CASE WHEN r.f > q.f_q2 THEN 1 ELSE 0 END)
        |    + (CASE WHEN r.f > q.f_q3 THEN 1 ELSE 0 END) AS f_score,
        |  1 + (CASE WHEN r.m > q.m_q1 THEN 1 ELSE 0 END)
        |    + (CASE WHEN r.m > q.m_q2 THEN 1 ELSE 0 END)
        |    + (CASE WHEN r.m > q.m_q3 THEN 1 ELSE 0 END) AS m_score
        |  FROM r, q)
        |SELECT r_score, f_score, m_score, count(*) AS n_users,
        |  CAST(sum(m) AS DOUBLE) AS total_monetary
        |FROM s GROUP BY r_score, f_score, m_score""".stripMargin,
    // format tier (q231-q233): the Spark side writes the fixture
    // through ORC / CSV / date-partitioned parquet and aggregates the
    // READ-BACK; the oracle states the same aggregate over the
    // original parquet — value equality certifies the round-trip
    // lossless for every column type involved,
    "q231_orc_roundtrip" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    // the CSV write normalizes price to DECIMAL(18,2) BEFORE the text
    // round-trip (fixed-point string, exact re-parse); the oracle
    // applies the identical normalization,
    "q232_csv_roundtrip" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  strftime(max(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS last_order_date
        |FROM orders
        |WHERE CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
        |GROUP BY o_orderpriority""".stripMargin,
    // the Spark side prunes day=… partition DIRECTORIES; the oracle
    // filters the same UTC calendar days out of the original events,
    "q233_partition_prune" ->
      """SELECT event_type, count(*) AS n_events,
        |  count(DISTINCT CAST(ts AS DATE)) AS n_days,
        |  CAST(sum(CAST(floor(value * 1.0e6 + 0.5) AS BIGINT)) AS BIGINT) AS value_units
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
        |GROUP BY event_type""".stripMargin,
    // q234: five exact moment sums (integer x from a FIXED origin,
    // 10^6-quantized y, DECIMAL(38,0) accumulation), then the
    // slope/intercept doubles in the identical literal operation order,
    "q234_ols_trend" ->
      """WITH e AS (SELECT event_type,
        |    (epoch_us(ts) - 1704067200000000)
        |      // 3600000000 AS x,
        |    CAST(floor(value * 1.0e6 + 0.5) AS BIGINT) AS y
        |  FROM events),
        |s AS (SELECT event_type, count(*) AS n,
        |    sum(CAST(x AS DECIMAL(38,0))) AS sx,
        |    sum(CAST(y AS DECIMAL(38,0))) AS sy,
        |    sum(CAST(x * x AS DECIMAL(38,0))) AS sxx,
        |    sum(CAST(x * y AS DECIMAL(38,0))) AS sxy
        |  FROM e GROUP BY event_type)
        |SELECT event_type, n AS n_events,
        |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |    AS slope_units_per_hour,
        |  (CAST(sy AS DOUBLE)
        |    - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept_units
        |FROM s""".stripMargin,
    // q235: the oracle replays base/delta partials and the monoid
    // merge, so the flag is recomputed — not assumed — on both sides,
    "q235_incr_merge" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) AS us,
        |    CAST(floor(value * 1.0e6 + 0.5) AS BIGINT) AS units FROM events),
        |b AS (SELECT event_type, count(*) AS n_base, CAST(sum(units) AS BIGINT) AS u_base
        |  FROM e WHERE us < 1706572800000000 GROUP BY event_type),
        |d AS (SELECT event_type, count(*) AS n_delta, CAST(sum(units) AS BIGINT) AS u_delta
        |  FROM e WHERE us >= 1706572800000000 GROUP BY event_type),
        |f AS (SELECT event_type, count(*) AS n_full, CAST(sum(units) AS BIGINT) AS u_full
        |  FROM e GROUP BY event_type),
        |m AS (SELECT COALESCE(b.event_type, d.event_type) AS event_type,
        |    COALESCE(n_base, 0) AS n_base, COALESCE(n_delta, 0) AS n_delta,
        |    COALESCE(u_base, 0) AS u_base, COALESCE(u_delta, 0) AS u_delta
        |  FROM b FULL OUTER JOIN d ON b.event_type = d.event_type)
        |SELECT f.event_type, m.n_base, m.n_delta, f.n_full AS n_total,
        |  f.u_full AS value_units,
        |  CASE WHEN m.n_base + m.n_delta = f.n_full
        |    AND m.u_base + m.u_delta = f.u_full THEN 1 ELSE 0 END AS merge_matches_full
        |FROM f LEFT JOIN m ON f.event_type = m.event_type""".stripMargin,
    // q236: gaps-and-islands SCD2 — run breaks on event_type change per
    // user, runs close at the next run's start, open rows carry the
    // 9999-12-31 high-date sentinel,
    "q236_scd2" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type
        |  FROM events),
        |o AS (SELECT *, CASE WHEN lag(event_type) OVER
        |    (PARTITION BY user_id ORDER BY us, event_id) IS DISTINCT FROM event_type
        |    THEN 1 ELSE 0 END AS brk FROM e),
        |g AS (SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id FROM o),
        |r AS (SELECT user_id, run_id, max(event_type) AS event_type,
        |    min(us) AS valid_from_us, count(*) AS n_events
        |  FROM g GROUP BY user_id, run_id)
        |SELECT user_id, event_type, valid_from_us,
        |  COALESCE(lead(valid_from_us) OVER (PARTITION BY user_id
        |    ORDER BY valid_from_us, run_id), 253402300799000000) AS valid_to_us,
        |  n_events
        |FROM r""".stripMargin,
    // q237: the oracle is the plain join+aggregate — the bucketed
    // layout changes the PLAN (zero-exchange join, pinned), never the
    // values,
    "q237_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS n_lines,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    // q238: the oracle states the per-source cumulative axis as one
    // plain window (the Spark side's two-pass prefix sum computes the
    // identical cum); integer boundary-crossing, k = 50 strata,
    "q238_pps_sample" ->
      """WITH d AS (SELECT source, doc_id, CAST(n_chars AS BIGINT) AS w
        |  FROM documents),
        |c AS (SELECT source, doc_id, w,
        |    CAST(sum(w) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(sum(w) OVER (PARTITION BY source) AS BIGINT) AS wt
        |  FROM d)
        |SELECT source, doc_id, w AS n_chars, cum AS cum_chars,
        |  (cum * 50) // wt - ((cum - w) * 50) // wt AS strata_covered
        |FROM c
        |WHERE (cum * 50) // wt > ((cum - w) * 50) // wt""".stripMargin,
    // q239: the cross-batch keyed state must converge to the plain
    // per-user aggregate of the whole fixture,
    "q239_stream_state" ->
      """SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CAST(floor(value * 1.0e6 + 0.5) AS BIGINT)) AS BIGINT) AS value_units
        |FROM events GROUP BY user_id""".stripMargin,
    // q240: nulls synthesized the same way (k < 10 → NULL); avg is
    // written as the explicit sum/count(nonnull) divide; the ordered
    // head string spells NULLS FIRST because the engines' DEFAULTS
    // disagree (Spark ASC=NULLS FIRST, DuckDB ASC=NULLS LAST),
    "q240_null_semantics" ->
      """WITH e AS (SELECT event_type, event_id,
        |    CAST(NULLIF(regexp_extract(props, '"k":\s*(-?\d+)', 1), '') AS BIGINT) AS k
        |  FROM events),
        |n AS (SELECT event_type, event_id,
        |    CASE WHEN k < 10 THEN NULL ELSE k END AS nk FROM e),
        |r AS (SELECT event_type, nk, row_number() OVER (PARTITION BY event_type
        |    ORDER BY nk ASC NULLS FIRST, event_id ASC) AS rn FROM n),
        |h AS (SELECT event_type,
        |    string_agg(CASE WHEN nk IS NULL THEN 'NULL' ELSE CAST(nk AS VARCHAR) END,
        |      ',' ORDER BY rn) AS head_nulls_first
        |  FROM r WHERE rn <= 3 GROUP BY event_type),
        |a AS (SELECT event_type, count(*) AS n_rows, count(nk) AS n_nonnull,
        |    count(DISTINCT nk) AS n_distinct, CAST(sum(nk) AS BIGINT) AS sum_nk,
        |    CAST(sum(nk) AS DOUBLE) / count(nk) AS avg_nk
        |  FROM n GROUP BY event_type)
        |SELECT a.event_type, a.n_rows, a.n_nonnull,
        |  a.n_rows - a.n_nonnull AS n_null, a.n_distinct, a.sum_nk, a.avg_nk,
        |  h.head_nulls_first
        |FROM a JOIN h ON a.event_type = h.event_type""".stripMargin,
    // q241: the oracle folds the same 15 hex digits of md5(token)
    // positionally to the same 60-bit BIGINT `conv` produces, and
    // replays the k smallest per source with a window (the exact
    // formulation the bounded-heap Aggregator implements at scale),
    "q241_kmv_distinct" ->
      """WITH tok AS (SELECT DISTINCT source, token FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS token FROM documents)
        |  WHERE token <> ''),
        |hv0 AS (SELECT DISTINCT source,
        |    list_reduce(list_transform(range(1, 16),
        |      i -> CAST(strpos('0123456789abcdef', substring(md5(token), i, 1)) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) AS hv
        |  FROM tok),
        |hv AS (SELECT source, hv FROM hv0
        |  UNION SELECT '__all__' AS source, hv FROM hv0),
        |r AS (SELECT source, hv,
        |    row_number() OVER (PARTITION BY source ORDER BY hv) AS rn FROM hv),
        |s AS (SELECT source, count(*) AS n_sketch, max(hv) AS kth_hv
        |  FROM r WHERE rn <= 64 GROUP BY source),
        |x AS (SELECT source, count(*) AS n_distinct FROM hv GROUP BY source),
        |e AS (SELECT x.source, n_distinct,
        |    CASE WHEN n_sketch < 64 THEN CAST(n_distinct AS DOUBLE)
        |      ELSE 63.0 / (CAST(kth_hv AS DOUBLE) / 1152921504606846976.0) END AS kmv_estimate
        |  FROM x JOIN s ON s.source = x.source)
        |SELECT source, n_distinct, kmv_estimate,
        |  abs(kmv_estimate - CAST(n_distinct AS DOUBLE)) / CAST(n_distinct AS DOUBLE) AS rel_err
        |FROM e ORDER BY source""".stripMargin,
    // q242: 3 unrolled GD passes, q119-style generated CTEs; the
    // algebraic sigmoid (only +,*,/,abs — no libm) and the
    // floor(·1e9+0.5) → DECIMAL(38,0) gradient sums keep every weight
    // bit-identical across engines and aggregation orders,
    "q242_logreg" -> {
      val iterCte = (k: Int) =>
        s"""e$k AS (SELECT w0, w1, w2, x1, x2,
           |    0.5 * (1.0 + z / (1.0 + abs(z))) - y AS err
           |  FROM (SELECT w0, w1, w2, x1, x2, y,
           |      (w0 + w1 * x1) + w2 * x2 AS z FROM f, w${k - 1})),
           |g$k AS (SELECT w0, w1, w2, count(*) AS n,
           |    sum(CAST(floor(err * 1.0e9 + 0.5) AS DECIMAL(38,0))) AS g0,
           |    sum(CAST(floor(err * x1 * 1.0e9 + 0.5) AS DECIMAL(38,0))) AS g1,
           |    sum(CAST(floor(err * x2 * 1.0e9 + 0.5) AS DECIMAL(38,0))) AS g2
           |  FROM e$k GROUP BY w0, w1, w2),
           |w$k AS (SELECT
           |    w0 - 0.5 * (CAST(g0 AS DOUBLE) / 1.0e9 / CAST(n AS DOUBLE)) AS w0,
           |    w1 - 0.5 * (CAST(g1 AS DOUBLE) / 1.0e9 / CAST(n AS DOUBLE)) AS w1,
           |    w2 - 0.5 * (CAST(g2 AS DOUBLE) / 1.0e9 / CAST(n AS DOUBLE)) AS w2
           |  FROM g$k)""".stripMargin
      s"""WITH f AS (SELECT CAST(n_chars AS DOUBLE) / 1000.0 AS x1,
         |    CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0 AS x2,
         |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y FROM documents),
         |w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2),
         |${iterCte(1)},
         |${iterCte(2)},
         |${iterCte(3)},
         |p AS (SELECT w0, w1, w2,
         |    CASE WHEN (0.5 * (1.0 + z / (1.0 + abs(z))) >= 0.5) = (y = 1.0)
         |      THEN 1 ELSE 0 END AS ok
         |  FROM (SELECT w0, w1, w2, y,
         |      (w0 + w1 * x1) + w2 * x2 AS z FROM f, w3))
         |SELECT w0, w1, w2, count(*) AS n_docs,
         |  CAST(sum(ok) AS BIGINT) AS n_correct,
         |  CAST(CAST(sum(ok) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS accuracy
         |FROM p GROUP BY w0, w1, w2""".stripMargin
    },
    // q243: ranking and cumulative-relevance windows share one total
    // order (score desc, doc_id asc); the per-hit precision fold is
    // order-pinned by rank,
    "q243_avg_precision" ->
      """WITH d AS (SELECT source, doc_id, n_chars AS score,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS rel FROM documents),
        |r AS (SELECT source, rel,
        |    row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id ASC) AS rk,
        |    sum(rel) OVER (PARTITION BY source ORDER BY score DESC, doc_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM d)
        |SELECT source, count(*) AS n_pos,
        |  list_reduce(list_prepend(0.0,
        |      list(CAST(cum AS DOUBLE) / CAST(rk AS DOUBLE) ORDER BY rk)),
        |    (a, b) -> a + b) / CAST(count(*) AS DOUBLE) AS avg_precision
        |FROM r WHERE rel = 1 GROUP BY source ORDER BY source""".stripMargin,
    // q244: unrolled frontier supersteps over the shared mh_pairs
    // edge set — dk = min-dist after k hops, exactly the Spark
    // frontier-join/min-agg rounds,
    "q244_bfs_hops" -> {
      // AS MATERIALIZED on the multi-referenced frames (e feeds every
      // hop; each d feeds the next hop twice) — the q258 inlining rule
      val hopCte = (k: Int) =>
        s"""f$k AS (SELECT e.dst AS id, $k AS dist
           |  FROM e JOIN d${k - 1} d ON d.id = e.src AND d.dist = ${k - 1}),
           |d$k AS MATERIALIZED (SELECT id, min(dist) AS dist FROM (
           |    SELECT id, dist FROM d${k - 1}
           |    UNION ALL SELECT id, dist FROM f$k) u GROUP BY id)""".stripMargin
      s"""WITH $minhashPairsCte,
         |e AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM mh_pairs
         |  UNION ALL SELECT doc_b, doc_a FROM mh_pairs),
         |n0 AS (SELECT DISTINCT src AS id FROM e),
         |d0 AS MATERIALIZED (SELECT id, 0 AS dist FROM n0 ORDER BY id LIMIT 8),
         |${hopCte(1)},
         |${hopCte(2)},
         |${hopCte(3)}
         |SELECT dist, count(*) AS n_nodes FROM d3 GROUP BY dist ORDER BY dist""".stripMargin
    },
    // q245: exact-integer dots/norms; the shrunk-similarity ranking
    // breaks ties on the (shrunk desc, neighbor asc) total order,
    "q245_item_cf" ->
      """WITH r AS (SELECT user_id, event_type, count(*) AS c
        |  FROM events GROUP BY user_id, event_type),
        |norms AS (SELECT event_type, CAST(sum(c * c) AS BIGINT) AS ss
        |  FROM r GROUP BY event_type),
        |co AS (SELECT a.event_type AS item_a, b.event_type AS item_b,
        |    CAST(sum(a.c * b.c) AS BIGINT) AS dot, count(*) AS co_users
        |  FROM r a JOIN r b ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2),
        |sim AS (SELECT item_a, item_b, co_users,
        |    CAST(dot AS DOUBLE) / (sqrt(CAST(na.ss AS DOUBLE)) * sqrt(CAST(nb.ss AS DOUBLE))) AS cosine
        |  FROM co JOIN norms na ON na.event_type = item_a
        |  JOIN norms nb ON nb.event_type = item_b),
        |s2 AS (SELECT item_a, item_b, co_users, cosine,
        |    cosine * (CAST(co_users AS DOUBLE) / (CAST(co_users AS DOUBLE) + 25.0)) AS shrunk_sim
        |  FROM sim),
        |b AS (SELECT item_a AS item, item_b AS neighbor, co_users, cosine, shrunk_sim FROM s2
        |  UNION ALL
        |  SELECT item_b AS item, item_a AS neighbor, co_users, cosine, shrunk_sim FROM s2),
        |rnk AS (SELECT item, neighbor, co_users, cosine, shrunk_sim,
        |    row_number() OVER (PARTITION BY item ORDER BY shrunk_sim DESC, neighbor ASC) AS rn
        |  FROM b)
        |SELECT item, CAST(rn AS INTEGER) AS rk, neighbor, co_users, cosine, shrunk_sim
        |FROM rnk WHERE rn <= 3 ORDER BY item, rk""".stripMargin,
    // q246: the daily spine is densified per type so the 1- and
    // 7-day lags are true calendar lags; all |diff| sums are exact
    // integers, the MASE ratio is the only double math,
    "q246_mase" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT event_type, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
        |spine AS (SELECT event_type,
        |    CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day FROM span),
        |y AS (SELECT s.event_type, s.day, COALESCE(d.n, 0) AS n
        |  FROM spine s LEFT JOIN daily d ON d.event_type = s.event_type AND d.day = s.day),
        |l AS (SELECT event_type, day, n,
        |    lag(n, 1) OVER (PARTITION BY event_type ORDER BY day) AS l1,
        |    lag(n, 7) OVER (PARTITION BY event_type ORDER BY day) AS ls
        |  FROM y)
        |SELECT event_type, count(*) AS n_days,
        |  CAST(sum(CASE WHEN ls IS NOT NULL THEN abs(n - ls) END) AS BIGINT) AS sae_seasonal,
        |  CAST(sum(CASE WHEN l1 IS NOT NULL THEN abs(n - l1) END) AS BIGINT) AS sae_naive,
        |  CASE WHEN CAST(sum(CASE WHEN l1 IS NOT NULL THEN abs(n - l1) END) AS BIGINT) = 0
        |    THEN NULL
        |    ELSE (CAST(sum(CASE WHEN ls IS NOT NULL THEN abs(n - ls) END) AS DOUBLE)
        |        / CAST(count(ls) AS DOUBLE))
        |      / (CAST(sum(CASE WHEN l1 IS NOT NULL THEN abs(n - l1) END) AS DOUBLE)
        |        / CAST(count(l1) AS DOUBLE))
        |  END AS mase
        |FROM l GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q247: the prefix is pure integer math on the rational threshold
    // (⌈4n/5⌉ = (4n+4)//5 — a float ceil(0.8·n) rounds off-lattice);
    // the verify stage recomputes exact intersections, so the output
    // is q22's result set to the bit,
    "q247_prefix_jaccard" ->
      s"""WITH $shingleCte,
         |shm AS MATERIALIZED (SELECT doc_id, shingle FROM sh),
         |w1 AS (SELECT doc_id, shingle,
         |    count(*) OVER (PARTITION BY shingle) AS df,
         |    count(*) OVER (PARTITION BY doc_id) AS n
         |  FROM shm),
         |p AS (SELECT doc_id, shingle FROM (
         |    SELECT doc_id, shingle, n,
         |      row_number() OVER (PARTITION BY doc_id ORDER BY df ASC, shingle ASC) AS rn
         |    FROM w1) t
         |  WHERE rn <= n - ((4 * n + 4) // 5) + 1),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM p a JOIN p b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
         |sz AS (SELECT doc_id, count(*) AS n FROM shm GROUP BY doc_id),
         |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS inter
         |  FROM cand c JOIN shm sa ON sa.doc_id = c.doc_a
         |  JOIN shm sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) AS jaccard
         |FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
         |WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.8""".stripMargin,
    // q248: the Morton interleave is generated as the same 20-term
    // integer expression both engines evaluate exactly; layouts,
    // min/max envelopes and pruning are all integer bit math,
    "q248_zorder" -> {
      val inter = (0 until 10).map(i =>
        s"((ub >> $i) & 1) * ${1L << (2 * i)} + ((hb >> $i) & 1) * ${1L << (2 * i + 1)}")
        .mkString(" + ")
      s"""WITH e0 AS (SELECT user_id, epoch_us(ts) AS us FROM events),
         |hm AS (SELECT min(us // 3600000000) AS hmin FROM e0),
         |k AS (SELECT (user_id * 2654435761) % 1024 AS ub,
         |    (us // 3600000000 - hmin) % 1024 AS hb FROM e0, hm),
         |t AS (SELECT ub, hb, ($inter) AS z,
         |    CASE WHEN ub BETWEEN 256 AND 511 AND hb BETWEEN 96 AND 215
         |      THEN 1 ELSE 0 END AS rin
         |  FROM k),
         |x AS (SELECT ub, hb, rin, 'zorder' AS layout, z >> 14 AS file FROM t
         |  UNION ALL SELECT ub, hb, rin, 'linear' AS layout, hb >> 4 AS file FROM t),
         |pf AS (SELECT layout, file, count(*) AS n, CAST(sum(rin) AS BIGINT) AS rin,
         |    min(ub) AS minu, max(ub) AS maxu, min(hb) AS minh, max(hb) AS maxh
         |  FROM x GROUP BY layout, file)
         |SELECT layout, count(*) AS n_files, CAST(sum(n) AS BIGINT) AS rows_total,
         |  CAST(sum(rin) AS BIGINT) AS rows_in_rect,
         |  CAST(sum(CASE WHEN minu <= 511 AND maxu >= 256 AND minh <= 215 AND maxh >= 96
         |    THEN 1 ELSE 0 END) AS BIGINT) AS files_touched,
         |  CAST(sum(CASE WHEN minu <= 511 AND maxu >= 256 AND minh <= 215 AND maxh >= 96
         |    THEN n ELSE 0 END) AS BIGINT) AS rows_scanned,
         |  CASE WHEN CAST(sum(rin) AS BIGINT) = 0 THEN NULL
         |    ELSE CAST(sum(CASE WHEN minu <= 511 AND maxu >= 256 AND minh <= 215 AND maxh >= 96
         |        THEN n ELSE 0 END) AS DOUBLE) / CAST(sum(rin) AS DOUBLE)
         |  END AS scan_amplification
         |FROM pf GROUP BY layout ORDER BY layout""".stripMargin
    },
    // q249: the oracle replays the flagged-cell classification, the
    // monoid merge AND the independent full recompute — the flag is
    // recomputed on both engines, never assumed,
    "q249_join_ivm" ->
      """WITH o AS (SELECT o_orderkey, o_orderpriority,
        |    o_orderdate < TIMESTAMP '1998-01-01' AS oold FROM orders),
        |l AS (SELECT l_orderkey, CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT) AS qu,
        |    l_shipdate < TIMESTAMP '1998-01-01' AS lold FROM lineitem),
        |cells AS (SELECT o_orderpriority, oold, lold, count(*) AS n,
        |    CAST(sum(qu) AS BIGINT) AS qs
        |  FROM o JOIN l ON o_orderkey = l_orderkey GROUP BY 1, 2, 3),
        |m AS (SELECT o_orderpriority,
        |    CAST(sum(CASE WHEN oold AND lold THEN n ELSE 0 END) AS BIGINT) AS n_old,
        |    CAST(sum(CASE WHEN NOT oold AND lold THEN n ELSE 0 END) AS BIGINT) AS n_delta_orders,
        |    CAST(sum(CASE WHEN oold AND NOT lold THEN n ELSE 0 END) AS BIGINT) AS n_delta_lines,
        |    CAST(sum(CASE WHEN NOT oold AND NOT lold THEN n ELSE 0 END) AS BIGINT) AS n_delta_both,
        |    CAST(sum(n) AS BIGINT) AS n_merged, CAST(sum(qs) AS BIGINT) AS q_merged
        |  FROM cells GROUP BY 1),
        |f AS (SELECT o_orderpriority, count(*) AS n_full, CAST(sum(qu) AS BIGINT) AS qty_units
        |  FROM o JOIN l ON o_orderkey = l_orderkey GROUP BY 1)
        |SELECT f.o_orderpriority, n_old, n_delta_orders, n_delta_lines, n_delta_both,
        |  n_full, qty_units,
        |  CASE WHEN n_merged = n_full AND q_merged = qty_units THEN 1 ELSE 0 END
        |    AS ivm_matches_full
        |FROM f JOIN m ON m.o_orderpriority = f.o_orderpriority
        |ORDER BY f.o_orderpriority""".stripMargin,
    // q250: five generated candidate blocks, each one keyed
    // count-distinct rollup — all-integer except the final rate,
    "q250_fd_audit" -> {
      def block(name: String, table: String, x: String, y: String) =
        s"""SELECT '$name' AS fd, count(*) AS n_groups,
           |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
           |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
           |    / CAST(count(*) AS DOUBLE) AS violation_rate,
           |  max(nd) AS max_rhs
           |FROM (SELECT $x AS x, count(DISTINCT $y) AS nd FROM $table GROUP BY $x) g""".stripMargin
      Seq(
        block("documents: source -> lang", "documents", "source", "lang"),
        block("documents: lang -> source", "documents", "lang", "source"),
        block("events: user_id -> event_type", "events", "user_id", "event_type"),
        block("lineitem: l_orderkey -> l_suppkey", "lineitem", "l_orderkey", "l_suppkey"),
        block("orders: o_custkey -> o_orderstatus", "orders", "o_custkey", "o_orderstatus")
      ).mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) u ORDER BY fd")
    },
    // q251: q119-style generated supersteps — the state vector and
    // CONV accumulator advance through 8 CTE rounds with the SAME
    // order-pinned src fold and literal accumulation order as the
    // Spark frames; removal chains delete a state's transitions
    // without renormalizing,
    "q251_markov_attribution" -> {
      val stepCte = (k: Int) =>
        s"""s$k AS (SELECT t.chain, t.dst, v.state AS src, v.v * t.p AS term
           |  FROM v${k - 1} v JOIN tmc t ON t.chain = v.chain AND t.src = v.state),
           |n$k AS (SELECT chain, dst,
           |    list_reduce(list_prepend(0.0, list(term ORDER BY src)), (a, b) -> a + b) AS v
           |  FROM s$k GROUP BY chain, dst),
           |v$k AS (SELECT chain, dst AS state, v FROM n$k WHERE dst NOT IN ('CONV', 'END')),
           |a$k AS (SELECT a.chain, a.acc + COALESCE(c.v, 0.0) AS acc
           |  FROM a${k - 1} a LEFT JOIN (SELECT chain, v FROM n$k WHERE dst = 'CONV') c
           |    ON c.chain = a.chain)""".stripMargin
      s"""WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
         |o AS (SELECT *,
         |    lead(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS nxt,
         |    lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prv
         |  FROM ev),
         |ts0 AS (SELECT 'START' AS src,
         |    CASE WHEN event_type = 'purchase' THEN 'CONV' ELSE event_type END AS dst
         |  FROM o WHERE prv IS NULL OR prv = 'purchase'),
         |ts1 AS (SELECT event_type AS src,
         |    CASE WHEN nxt IS NULL THEN 'END'
         |      WHEN nxt = 'purchase' THEN 'CONV' ELSE nxt END AS dst
         |  FROM o WHERE event_type <> 'purchase'),
         |tc AS (SELECT src, dst, count(*) AS c
         |  FROM (SELECT * FROM ts0 UNION ALL SELECT * FROM ts1) u GROUP BY 1, 2),
         |tm AS (SELECT src, dst,
         |    CAST(c AS DOUBLE) / CAST(sum(c) OVER (PARTITION BY src) AS DOUBLE) AS p
         |  FROM tc),
         |ch AS (SELECT unnest(['full', 'click', 'view', 'signup', 'error']) AS chain),
         |tmc AS (SELECT chain, src, dst, p FROM tm, ch
         |  WHERE chain = 'full' OR (src <> chain AND dst <> chain)),
         |v0 AS (SELECT chain, 'START' AS state, CAST(1.0 AS DOUBLE) AS v FROM ch),
         |a0 AS (SELECT chain, CAST(0.0 AS DOUBLE) AS acc FROM ch),
         |${(1 to 8).map(stepCte).mkString(",\n")},
         |f AS (SELECT acc AS p_full FROM a8 WHERE chain = 'full'),
         |r AS (SELECT chain AS channel, acc AS removal_conv_prob FROM a8 WHERE chain <> 'full'),
         |e AS (SELECT channel, p_full AS full_conv_prob, removal_conv_prob,
         |    CASE WHEN p_full = 0.0 THEN NULL
         |      ELSE 1.0 - removal_conv_prob / p_full END AS removal_effect FROM r, f),
         |s AS (SELECT list_reduce(list_prepend(0.0,
         |    list(removal_effect ORDER BY channel)), (a, b) -> a + b) AS tot FROM e)
         |SELECT channel, full_conv_prob, removal_conv_prob, removal_effect,
         |  CASE WHEN tot = 0.0 OR tot IS NULL THEN NULL
         |    ELSE removal_effect / tot END AS attribution_share
         |FROM e, s ORDER BY channel""".stripMargin
    },
    // q252: ranking ties pinned (count desc, token asc); masses are
    // integer sums, the share one divide against the windowed total,
    "q252_tail_collapse" ->
      """WITH counts AS (SELECT source, token, count(*) AS c FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS token FROM documents)
        |  WHERE token <> '' GROUP BY source, token),
        |ranked AS (SELECT source, token, c,
        |    row_number() OVER (PARTITION BY source ORDER BY c DESC, token ASC) AS rn
        |  FROM counts),
        |rolled AS (SELECT source,
        |    CASE WHEN rn <= 10 THEN token ELSE '__OTHER__' END AS category,
        |    count(*) AS n_types, CAST(sum(c) AS BIGINT) AS n_tokens
        |  FROM ranked GROUP BY 1, 2)
        |SELECT source, category, n_types, n_tokens,
        |  CAST(n_tokens AS DOUBLE)
        |    / CAST(sum(n_tokens) OVER (PARTITION BY source) AS DOUBLE) AS share
        |FROM rolled ORDER BY source, n_tokens DESC, category""".stripMargin,
    // q253: generated per-feature blocks over ONE shared conditional
    // aggregate; all gini math is polynomial on exact integers (the
    // log-free rule),
    "q253_gini_gain" -> {
      def block(f: String) = {
        val (nt, pt) = (s"${f}_n", s"${f}_pos")
        s"""SELECT '$f' AS feature, $nt AS n_true, $pt AS pos_true,
           |  n - $nt AS n_false, pos - $pt AS pos_false,
           |  1.0 - CAST(pos * pos + (n - pos) * (n - pos) AS DOUBLE)
           |    / CAST(n * n AS DOUBLE) AS gini_parent,
           |  CASE WHEN $nt = 0 THEN 0.0 ELSE
           |    (CAST($nt AS DOUBLE) / CAST(n AS DOUBLE))
           |      * (1.0 - CAST($pt * $pt + ($nt - $pt) * ($nt - $pt) AS DOUBLE)
           |        / CAST($nt * $nt AS DOUBLE)) END
           |  + CASE WHEN n - $nt = 0 THEN 0.0 ELSE
           |    (CAST(n - $nt AS DOUBLE) / CAST(n AS DOUBLE))
           |      * (1.0 - CAST((pos - $pt) * (pos - $pt)
           |          + ((n - $nt) - (pos - $pt)) * ((n - $nt) - (pos - $pt)) AS DOUBLE)
           |        / CAST((n - $nt) * (n - $nt) AS DOUBLE)) END AS gini_split
           |FROM g""".stripMargin
      }
      val feats = Seq("f_len", "f_tok", "f_parity", "f_src")
      val sums = feats.map { f =>
        s"""CAST(sum(CASE WHEN $f THEN 1 ELSE 0 END) AS BIGINT) AS ${f}_n,
           |    CAST(sum(CASE WHEN $f THEN y ELSE 0 END) AS BIGINT) AS ${f}_pos""".stripMargin
      }.mkString(",\n    ")
      s"""WITH d AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         |    n_chars >= 300 AS f_len,
         |    len(string_split(text, ' ')) >= 60 AS f_tok,
         |    doc_id % 2 = 0 AS f_parity,
         |    source < 'src5' AS f_src
         |  FROM documents),
         |g AS (SELECT count(*) AS n, CAST(sum(y) AS BIGINT) AS pos,
         |    $sums
         |  FROM d)
         |SELECT feature, n_true, pos_true, n_false, pos_false,
         |  gini_parent, gini_split, gini_parent - gini_split AS gain
         |FROM (
         |${feats.map(block).mkString("\nUNION ALL\n")}
         |) u ORDER BY feature""".stripMargin
    },
    // q254: ring/mod ownership replayed with the q241 md5 fold; the
    // sorted point arrays come from 1-row aggregate subqueries, and
    // ownership is the first at-or-after point with wrap fallback,
    "q254_rebalance_churn" ->
      """WITH keys AS (SELECT list_reduce(list_transform(range(1, 16),
        |    i -> CAST(strpos('0123456789abcdef',
        |      substring(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)),
        |    (a, b) -> a * 16 + b) AS kh FROM documents),
        |pts AS (SELECT i AS pid, list_reduce(list_transform(range(1, 16),
        |    j -> CAST(strpos('0123456789abcdef',
        |      substring(md5('shard:' || CAST(i AS VARCHAR)), j, 1)) - 1 AS BIGINT)),
        |    (a, b) -> a * 16 + b) AS ph
        |  FROM (SELECT unnest(range(0, 65)) AS i) t),
        |a64 AS (SELECT list_sort(list(ph)) AS p64 FROM pts WHERE pid < 64),
        |a65 AS (SELECT list_sort(list(ph)) AS p65 FROM pts),
        |f AS (SELECT
        |    CASE WHEN kh % 64 <> kh % 65 THEN 1 ELSE 0 END AS mv_mod,
        |    CASE WHEN COALESCE(list_filter(p64, x -> x >= kh)[1], p64[1])
        |      <> COALESCE(list_filter(p65, x -> x >= kh)[1], p65[1])
        |      THEN 1 ELSE 0 END AS mv_ring
        |  FROM keys, a64, a65),
        |s AS (SELECT count(*) AS n_keys, CAST(sum(mv_mod) AS BIGINT) AS mod_moved,
        |    CAST(sum(mv_ring) AS BIGINT) AS ring_moved FROM f)
        |SELECT * FROM (
        |  SELECT 'mod' AS scheme, n_keys, mod_moved AS n_moved,
        |    CAST(mod_moved AS DOUBLE) / CAST(n_keys AS DOUBLE) AS moved_frac FROM s
        |  UNION ALL
        |  SELECT 'ring' AS scheme, n_keys, ring_moved AS n_moved,
        |    CAST(ring_moved AS DOUBLE) / CAST(n_keys AS DOUBLE) AS moved_frac FROM s) u
        |ORDER BY scheme""".stripMargin,
    // q255: the k per-depth RBO weights are computed ONCE driver-side
    // and embedded as identical round-trip double literals in both
    // engines — pow never runs in either plan; per-pair sums use the
    // order-pinned token fold,
    "q255_rbo" -> {
      val k = 20; val p = 0.9
      val weights = (1 to k).map(m =>
        (1.0 - p) * (m to k).map(d => math.pow(p, d - 1) / d).sum)
      // exponent-suffix each literal: a bare decimal is DECIMAL in
      // DuckDB and CAST(decimal AS DOUBLE) re-rounds THROUGH the
      // decimal (measured 1-ulp drift on 3 of the 20 weights); an
      // exponent literal parses straight to the nearest DOUBLE
      val wlist = weights.map { w =>
        val s = w.toString
        if (s.contains("E") || s.contains("e")) s else s + "e0"
      }.mkString("[", ", ", "]")
      s"""WITH counts AS (SELECT source, token, count(*) AS c FROM (
         |    SELECT source, unnest(string_split(text, ' ')) AS token FROM documents)
         |  WHERE token <> '' GROUP BY source, token),
         |tops AS (SELECT source, token, rn FROM (
         |    SELECT source, token,
         |      row_number() OVER (PARTITION BY source ORDER BY c DESC, token ASC) AS rn
         |    FROM counts) t WHERE rn <= $k),
         |m AS (SELECT a.source AS source_a, b.source AS source_b, a.token,
         |    CASE WHEN a.rn > b.rn THEN a.rn ELSE b.rn END AS m
         |  FROM tops a JOIN tops b ON a.token = b.token AND a.source < b.source),
         |r AS (SELECT source_a, source_b, count(*) AS n_overlap,
         |    list_reduce(list_prepend(0.0, list(($wlist)[m] ORDER BY token)),
         |      (x, y) -> x + y) AS rbo
         |  FROM m GROUP BY 1, 2),
         |s AS (SELECT DISTINCT source FROM tops),
         |g AS (SELECT a.source AS source_a, b.source AS source_b
         |  FROM s a JOIN s b ON a.source < b.source)
         |SELECT g.source_a, g.source_b,
         |  COALESCE(r.n_overlap, 0) AS n_overlap, COALESCE(r.rbo, 0.0) AS rbo
         |FROM g LEFT JOIN r ON r.source_a = g.source_a AND r.source_b = g.source_b
         |ORDER BY 1, 2""".stripMargin
    },
    // q256: the oracle replays the generation split (even/odd
    // event_id) on the original table — certifying that old-gen rows
    // read back as NULL units and new-gen sums survive the merge,
    "q256_schema_evolution" ->
      """SELECT event_type, count(*) AS n_rows,
        |  count(CASE WHEN event_id % 2 = 1 THEN 1 END) AS n_evolved,
        |  CAST(sum(CASE WHEN event_id % 2 = 1
        |    THEN CAST(floor(value * 1.0e6 + 0.5) AS BIGINT) END) AS BIGINT) AS evolved_units,
        |  CAST(sum(CAST(floor(value * 1.0e6 + 0.5) AS BIGINT)) AS BIGINT) AS all_units
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q257: per-pair generated CTE chunks; the statistics and the
    // truth come from the same keyed count frames, and the four
    // estimate terms combine in one pinned double order,
    "q257_join_estimate" -> {
      def ctes(q: String, ta: String, ka: String, tb: String, kb: String) =
        s"""${q}ca AS (SELECT $ka AS k, count(*) AS c FROM $ta GROUP BY 1),
           |${q}cb AS (SELECT $kb AS k, count(*) AS c FROM $tb GROUP BY 1),
           |${q}ha AS (SELECT k, c FROM ${q}ca ORDER BY c DESC, k ASC LIMIT 50),
           |${q}hb AS (SELECT k, c FROM ${q}cb ORDER BY c DESC, k ASC LIMIT 50),
           |${q}st AS (SELECT
           |  (SELECT count(*) FROM ${q}ca) AS d_a,
           |  (SELECT CAST(sum(c) AS BIGINT) FROM ${q}ca) AS n_a,
           |  (SELECT count(*) FROM ${q}cb) AS d_b,
           |  (SELECT CAST(sum(c) AS BIGINT) FROM ${q}cb) AS n_b,
           |  (SELECT count(*) FROM ${q}ha) AS h_a,
           |  (SELECT CAST(sum(c) AS BIGINT) FROM ${q}ha) AS nh_a,
           |  (SELECT count(*) FROM ${q}hb) AS h_b,
           |  (SELECT CAST(sum(c) AS BIGINT) FROM ${q}hb) AS nh_b,
           |  (SELECT COALESCE(CAST(sum(a.c * b.c) AS BIGINT), 0)
           |    FROM ${q}ha a JOIN ${q}hb b ON a.k = b.k) AS x_heavy,
           |  (SELECT COALESCE(CAST(sum(a.c) AS BIGINT), 0) FROM ${q}ha a
           |    WHERE NOT EXISTS (SELECT 1 FROM ${q}hb b WHERE b.k = a.k)) AS s_aonly,
           |  (SELECT COALESCE(CAST(sum(b.c) AS BIGINT), 0) FROM ${q}hb b
           |    WHERE NOT EXISTS (SELECT 1 FROM ${q}ha a WHERE a.k = b.k)) AS s_bonly,
           |  (SELECT COALESCE(CAST(sum(a.c * b.c) AS BIGINT), 0)
           |    FROM ${q}ca a JOIN ${q}cb b ON a.k = b.k) AS actual_rows)""".stripMargin
      def sel(q: String, name: String) =
        s"""SELECT '$name' AS join_name, d_a, d_b, actual_rows,
           |  CAST(x_heavy AS DOUBLE)
           |  + CASE WHEN d_b - h_b = 0 THEN 0.0 ELSE CAST(s_aonly AS DOUBLE)
           |      * (CAST(n_b - nh_b AS DOUBLE) / CAST(d_b - h_b AS DOUBLE)) END
           |  + CASE WHEN d_a - h_a = 0 THEN 0.0 ELSE CAST(s_bonly AS DOUBLE)
           |      * (CAST(n_a - nh_a AS DOUBLE) / CAST(d_a - h_a AS DOUBLE)) END
           |  + CASE WHEN d_a - h_a = 0 OR d_b - h_b = 0 THEN 0.0
           |      ELSE CAST(least(d_a - h_a, d_b - h_b) AS DOUBLE)
           |        * (CAST(n_a - nh_a AS DOUBLE) / CAST(d_a - h_a AS DOUBLE))
           |        * (CAST(n_b - nh_b AS DOUBLE) / CAST(d_b - h_b AS DOUBLE)) END
           |  AS est_rows
           |FROM ${q}st""".stripMargin
      s"""WITH ${ctes("p1", "orders", "o_orderkey", "lineitem", "l_orderkey")},
         |${ctes("p2", "customer", "c_custkey", "orders", "o_custkey")},
         |${ctes("p3", "part", "p_partkey", "lineitem", "l_partkey")}
         |SELECT join_name, d_a, d_b, actual_rows, est_rows,
         |  CASE WHEN actual_rows = 0 THEN NULL
         |    ELSE abs(est_rows - CAST(actual_rows AS DOUBLE))
         |      / CAST(actual_rows AS DOUBLE) END AS rel_err
         |FROM (
         |${sel("p1", "orders_lineitem")}
         |UNION ALL
         |${sel("p2", "customer_orders")}
         |UNION ALL
         |${sel("p3", "part_lineitem")}
         |) u ORDER BY join_name""".stripMargin
    },
    // q258: unrolled peel rounds over the shared mh_pairs edges —
    // each round drops degree<2 endpoints and their edges, exactly
    // the Spark supersteps.  Every e$r is AS MATERIALIZED: each is
    // referenced 5× downstream and DuckDB's default CTE inlining
    // re-expands the whole chain (incl. the minhash CTE) 5^rounds
    // times — measured as a CPU-pinned never-finishing compare,
    "q258_kcore" -> {
      val peel = (r: Int) =>
        s"""d$r AS (SELECT id, count(*) AS deg FROM (
           |    SELECT doc_a AS id FROM e${r - 1}
           |    UNION ALL SELECT doc_b AS id FROM e${r - 1}) u GROUP BY id),
           |k$r AS MATERIALIZED (SELECT id FROM d$r WHERE deg >= 2),
           |e$r AS MATERIALIZED (SELECT doc_a, doc_b FROM e${r - 1}
           |  WHERE doc_a IN (SELECT id FROM k$r)
           |    AND doc_b IN (SELECT id FROM k$r)),
           |s$r AS (SELECT $r AS round,
           |  (SELECT count(DISTINCT id) FROM (SELECT doc_a AS id FROM e$r
           |     UNION ALL SELECT doc_b AS id FROM e$r) x) AS n_nodes,
           |  (SELECT count(*) FROM e$r) AS n_edges)""".stripMargin
      s"""WITH $minhashPairsCte,
         |e0 AS MATERIALIZED (SELECT doc_a, doc_b FROM mh_pairs),
         |${(1 to 4).map(peel).mkString(",\n")}
         |SELECT round, n_nodes, n_edges FROM (
         |  SELECT * FROM s1 UNION ALL SELECT * FROM s2
         |  UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4) u
         |ORDER BY round""".stripMargin
    },
    // q259: the same boundary-crossing selection as q238, fed through
    // the HT estimator in exact k-units (max(k·w, W) BIGINT sums),
    "q259_ht_estimate" ->
      """WITH d AS (SELECT source, doc_id, CAST(n_chars AS BIGINT) AS w
        |  FROM documents),
        |c AS (SELECT source, doc_id, w,
        |    CAST(sum(w) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(sum(w) OVER (PARTITION BY source) AS BIGINT) AS wt
        |  FROM d),
        |sel AS (SELECT source, w, wt FROM c
        |  WHERE (cum * 50) // wt > ((cum - w) * 50) // wt),
        |h AS (SELECT source, count(*) AS n_sampled,
        |    CAST(sum(CASE WHEN 50 * w > wt THEN 50 * w ELSE wt END) AS BIGINT) AS smax,
        |    max(wt) AS total
        |  FROM sel GROUP BY source)
        |SELECT source, total AS total_chars, n_sampled,
        |  CAST(smax AS DOUBLE) / 50.0 AS ht_estimate,
        |  abs(CAST(smax AS DOUBLE) / 50.0 - CAST(total AS DOUBLE))
        |    / CAST(total AS DOUBLE) AS rel_err
        |FROM h ORDER BY source""".stripMargin,
    // q260: candidate-driven multiset scoring; Σmax folds to
    // n_a + n_b − Σmin by the multiset identity, so both scores are
    // single integer-ratio divides,
    "q260_weighted_jaccard" ->
      s"""WITH $minhashPairsCte,
         |tok AS MATERIALIZED (SELECT doc_id, token, count(*) AS c FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
         |  WHERE token <> '' GROUP BY doc_id, token),
         |tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok, count(*) AS n_set
         |  FROM tok GROUP BY doc_id),
         |sh2 AS (SELECT p.doc_a, p.doc_b,
         |    CAST(sum(CASE WHEN a.c < b.c THEN a.c ELSE b.c END) AS BIGINT) AS smin,
         |    count(*) AS sset
         |  FROM mh_pairs p JOIN tok a ON a.doc_id = p.doc_a
         |  JOIN tok b ON b.doc_id = p.doc_b AND b.token = a.token
         |  GROUP BY 1, 2)
         |SELECT s.doc_a, s.doc_b, s.smin, s.sset,
         |  CAST(smin AS DOUBLE) / CAST(ta.n_tok + tb.n_tok - smin AS DOUBLE) AS weighted_jaccard,
         |  CAST(sset AS DOUBLE) / CAST(ta.n_set + tb.n_set - sset AS DOUBLE) AS set_jaccard
         |FROM sh2 s JOIN tot ta ON ta.doc_id = s.doc_a
         |JOIN tot tb ON tb.doc_id = s.doc_b
         |ORDER BY s.doc_a, s.doc_b""".stripMargin,
    // q261: shared centered-moments SSE template (one pinned double
    // order); the dense series y is MATERIALIZED (multi-referenced),
    "q261_segmented_trend" -> {
      def sseSql =
        """CASE WHEN CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(m AS DOUBLE) = 0.0
          |      THEN CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(m AS DOUBLE)
          |      ELSE (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(m AS DOUBLE))
          |        - (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(m AS DOUBLE))
          |          * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(m AS DOUBLE))
          |          / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(m AS DOUBLE))
          |    END""".stripMargin
      s"""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
         |  FROM events GROUP BY 1, 2),
         |span AS (SELECT event_type, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
         |spine AS (SELECT event_type, d0,
         |    CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day FROM span),
         |y AS MATERIALIZED (SELECT s.event_type,
         |    CAST(date_diff('day', s.d0, s.day) AS BIGINT) AS x, COALESCE(d.n, 0) AS yv
         |  FROM spine s LEFT JOIN daily d ON d.event_type = s.event_type AND d.day = s.day),
         |np AS (SELECT event_type, max(x) + 1 AS nd FROM y GROUP BY 1),
         |cands AS (SELECT event_type, unnest(range(7, nd - 7 + 1)) AS b
         |  FROM np WHERE nd >= 14),
         |sides AS (SELECT y.event_type, c.b,
         |    CASE WHEN y.x < c.b THEN 0 ELSE 1 END AS side, y.x, y.yv
         |  FROM y JOIN cands c ON c.event_type = y.event_type),
         |mom AS (SELECT event_type, b, side, count(*) AS m,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(yv) AS BIGINT) AS sy,
         |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * yv) AS BIGINT) AS sxy,
         |    CAST(sum(yv * yv) AS BIGINT) AS syy
         |  FROM sides GROUP BY 1, 2, 3),
         |es AS (SELECT event_type, b, side, $sseSql AS sse FROM mom),
         |sp AS (SELECT event_type, b,
         |    max(CASE WHEN side = 0 THEN sse END)
         |      + max(CASE WHEN side = 1 THEN sse END) AS sse_split
         |  FROM es GROUP BY 1, 2),
         |bst AS (SELECT event_type, b AS best_break, sse_split FROM (
         |    SELECT event_type, b, sse_split,
         |      row_number() OVER (PARTITION BY event_type
         |        ORDER BY sse_split ASC, b ASC) AS rn
         |    FROM sp) t WHERE rn = 1),
         |sm AS (SELECT event_type, count(*) AS m,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(yv) AS BIGINT) AS sy,
         |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * yv) AS BIGINT) AS sxy,
         |    CAST(sum(yv * yv) AS BIGINT) AS syy
         |  FROM y GROUP BY 1),
         |ss AS (SELECT event_type, $sseSql AS sse_single FROM sm)
         |SELECT b.event_type, np.nd AS n_days,
         |  CAST(b.best_break AS INTEGER) AS best_break,
         |  ss.sse_single, b.sse_split,
         |  CASE WHEN ss.sse_single = 0.0 THEN NULL
         |    ELSE 1.0 - b.sse_split / ss.sse_single END AS improvement
         |FROM bst b JOIN ss ON ss.event_type = b.event_type
         |JOIN np ON np.event_type = b.event_type
         |ORDER BY b.event_type""".stripMargin
    },
    // q262: same 60-bit md5 fold as q241; the sketch side replays the
    // k-min windows, the union-combine and the membership counts the
    // array algebra computes on Spark; every double is an
    // exact-integer divide so parity is structural,
    "q262_kmv_pair_sim" ->
      """WITH tok AS (SELECT DISTINCT source, token FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS token FROM documents)
        |  WHERE token <> ''),
        |hv0 AS MATERIALIZED (SELECT DISTINCT source,
        |    list_reduce(list_transform(range(1, 16),
        |      i -> CAST(strpos('0123456789abcdef', substring(md5(token), i, 1)) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) AS hv
        |  FROM tok),
        |r AS (SELECT source, hv,
        |    row_number() OVER (PARTITION BY source ORDER BY hv) AS rn FROM hv0),
        |sk AS MATERIALIZED (SELECT source, hv FROM r WHERE rn <= 64),
        |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM hv0 GROUP BY source),
        |pr AS (SELECT a.source AS sa, b.source AS sb, a.n AS n_a, b.n AS n_b
        |  FROM sz a JOIN sz b ON a.source < b.source),
        |uv AS (SELECT p.sa, p.sb, s.hv FROM pr p JOIN sk s ON s.source = p.sa
        |  UNION
        |  SELECT p.sa, p.sb, s.hv FROM pr p JOIN sk s ON s.source = p.sb),
        |us AS MATERIALIZED (SELECT sa, sb, hv FROM (
        |    SELECT sa, sb, hv,
        |      row_number() OVER (PARTITION BY sa, sb ORDER BY hv) AS rn FROM uv)
        |  WHERE rn <= 64),
        |ku AS (SELECT sa, sb, CAST(count(*) AS BIGINT) AS k_used FROM us GROUP BY 1, 2),
        |si AS (SELECT u.sa, u.sb, CAST(count(*) AS BIGINT) AS inter_sketch
        |  FROM us u JOIN sk x ON x.source = u.sa AND x.hv = u.hv
        |            JOIN sk y ON y.source = u.sb AND y.hv = u.hv
        |  GROUP BY 1, 2),
        |ie AS (SELECT a.source AS sa, b.source AS sb, CAST(count(*) AS BIGINT) AS inter_exact
        |  FROM hv0 a JOIN hv0 b ON a.hv = b.hv AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT p.sa AS source_a, p.sb AS source_b, p.n_a, p.n_b,
        |  COALESCE(ie.inter_exact, 0) AS inter_exact,
        |  CAST(COALESCE(ie.inter_exact, 0) AS DOUBLE)
        |    / CAST(p.n_a + p.n_b - COALESCE(ie.inter_exact, 0) AS DOUBLE) AS jaccard_exact,
        |  ku.k_used,
        |  COALESCE(si.inter_sketch, 0) AS inter_sketch,
        |  CAST(COALESCE(si.inter_sketch, 0) AS DOUBLE)
        |    / CAST(ku.k_used AS DOUBLE) AS jaccard_est,
        |  abs(CAST(COALESCE(si.inter_sketch, 0) AS DOUBLE) / CAST(ku.k_used AS DOUBLE)
        |    - CAST(COALESCE(ie.inter_exact, 0) AS DOUBLE)
        |      / CAST(p.n_a + p.n_b - COALESCE(ie.inter_exact, 0) AS DOUBLE)) AS abs_err
        |FROM pr p JOIN ku ON ku.sa = p.sa AND ku.sb = p.sb
        |LEFT JOIN si ON si.sa = p.sa AND si.sb = p.sb
        |LEFT JOIN ie ON ie.sa = p.sa AND ie.sb = p.sb
        |ORDER BY source_a, source_b""".stripMargin,
    // q263: frequency moments (n, keys, max, Σc²) per type; the ceil
    // is exact integer arithmetic, the cv one double divide of a
    // sqrt of an integer — bit-identical both engines,
    "q263_skew_audit" ->
      """WITH kc AS (SELECT event_type, user_id, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type,
        |    CAST(sum(c) AS BIGINT) AS n_rows,
        |    CAST(count(*) AS BIGINT) AS n_keys,
        |    CAST(max(c) AS BIGINT) AS max_key_rows,
        |    CAST(sum(c * c) AS BIGINT) AS sum_c2
        |  FROM kc GROUP BY 1)
        |SELECT event_type, n_rows, n_keys, max_key_rows,
        |  CAST(max_key_rows * n_keys AS DOUBLE) / CAST(n_rows AS DOUBLE) AS skew_factor,
        |  sqrt(CAST(greatest(0, n_keys * sum_c2 - n_rows * n_rows) AS DOUBLE))
        |    / CAST(n_rows AS DOUBLE) AS key_cv,
        |  greatest(1, (max_key_rows * 32 + n_rows - 1) // n_rows) AS salt_factor
        |FROM m ORDER BY event_type""".stripMargin,
    // q264: the greedy unrolled as generated superstep CTEs (the
    // q242/q244 pattern); a picked source has no uncovered tokens
    // left, so it drops out of every later g-stage by construction,
    "q264_set_cover" -> {
      val roundCte = (k: Int) =>
        s"""g$k AS (SELECT t.source, CAST(count(*) AS BIGINT) AS gain FROM tok t
           |  WHERE NOT EXISTS (SELECT 1 FROM c${k - 1} c WHERE c.token = t.token)
           |  GROUP BY t.source),
           |p$k AS (SELECT source, gain FROM g$k ORDER BY gain DESC, source ASC LIMIT 1),
           |c$k AS MATERIALIZED (SELECT token FROM c${k - 1}
           |  UNION SELECT t.token FROM tok t JOIN p$k ON t.source = p$k.source)""".stripMargin
      val rounds = (1 to 5).map(roundCte).mkString(",\n")
      val selects = (1 to 5).map(k =>
        s"""SELECT $k AS round, source, gain AS marginal_gain,
           |  (SELECT CAST(count(*) AS BIGINT) FROM c$k) AS cum_covered FROM p$k""".stripMargin)
        .mkString("\n  UNION ALL\n  ")
      s"""WITH wrd AS (SELECT source, string_split(text, ' ') AS w FROM documents),
         |tok AS MATERIALIZED (SELECT DISTINCT source,
         |    unnest([array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w) - 1)]) AS token
         |  FROM wrd WHERE len(w) >= 3),
         |tot AS (SELECT CAST(count(DISTINCT token) AS BIGINT) AS t FROM tok),
         |c0 AS (SELECT token FROM tok WHERE 1 = 0),
         |$rounds,
         |sel AS (
         |  $selects
         |)
         |SELECT round, source, marginal_gain, cum_covered,
         |  CAST(cum_covered AS DOUBLE) / CAST(t AS DOUBLE) AS coverage_frac
         |FROM sel, tot ORDER BY round""".stripMargin
    },
    // q265: the same md5-parity ±1 sign matrix, projections and
    // distances as ordered folds (0.0-seeded left fold, d then j
    // ascending — the q217/q128 rule), so every double is
    // bit-identical; multiplication order s·e vs e·s is immaterial
    // (IEEE multiply is commutative bitwise),
    "q265_jl_distortion" ->
      """WITH sg AS (SELECT t1.range AS j, t2.range AS d,
        |    CASE WHEN strpos('01234567',
        |        substring(md5('jl:' || t1.range || ':' || t2.range), 1, 1)) > 0
        |      THEN 1.0 ELSE -1.0 END AS s
        |  FROM range(0, 16) t1, range(0, 64) t2),
        |ev AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
        |pj AS (SELECT ev.vec_id, sg.j,
        |    list_reduce(list_prepend(0.0,
        |      list(sg.s * CAST(ev.embedding[sg.d + 1] AS DOUBLE) ORDER BY sg.d)),
        |      (a, b) -> a + b) AS p
        |  FROM ev, sg GROUP BY ev.vec_id, sg.j),
        |pv AS MATERIALIZED (SELECT vec_id, list(p ORDER BY j) AS proj
        |  FROM pj GROUP BY vec_id),
        |pr AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b FROM ev a JOIN ev b
        |  ON b.vec_id > a.vec_id AND b.vec_id <= a.vec_id + 5),
        |dx AS (SELECT p.vec_a, p.vec_b,
        |    list_reduce(list_prepend(0.0,
        |      [(CAST(ea.embedding[i] AS DOUBLE) - CAST(eb.embedding[i] AS DOUBLE))
        |        * (CAST(ea.embedding[i] AS DOUBLE) - CAST(eb.embedding[i] AS DOUBLE))
        |        FOR i IN range(1, 65)]), (a, b) -> a + b) AS exact_d2,
        |    list_reduce(list_prepend(0.0,
        |      [(pa.proj[i] - pb.proj[i]) * (pa.proj[i] - pb.proj[i])
        |        FOR i IN range(1, 17)]), (a, b) -> a + b) AS proj_d2
        |  FROM pr p JOIN ev ea ON ea.vec_id = p.vec_a
        |  JOIN ev eb ON eb.vec_id = p.vec_b
        |  JOIN pv pa ON pa.vec_id = p.vec_a
        |  JOIN pv pb ON pb.vec_id = p.vec_b)
        |SELECT vec_a, vec_b, exact_d2, proj_d2,
        |  CASE WHEN exact_d2 = 0.0 THEN NULL
        |    ELSE proj_d2 / (16.0 * exact_d2) END AS ratio
        |FROM dx ORDER BY vec_a, vec_b""".stripMargin,
    // q266: per-user sums in lossless 1e-2 units, six exact integer
    // moment sums per variant + pooled, every output double one
    // pinned IEEE sequence; variant = q241's md5 fold mod 2,
    "q266_cuped" ->
      """WITH u AS (SELECT user_id,
        |    CAST(sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
        |      THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
        |      THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
        |  FROM events GROUP BY user_id),
        |uv AS MATERIALIZED (SELECT user_id, x, y,
        |    list_reduce(list_transform(range(1, 16),
        |      i -> CAST(strpos('0123456789abcdef',
        |        substring(md5(CAST(user_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) % 2 AS variant
        |  FROM u),
        |m AS (SELECT variant, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM uv GROUP BY variant),
        |p AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM uv),
        |th AS (SELECT CASE WHEN n * sxx - sx * sx = 0 THEN NULL
        |    ELSE CAST(n * sxy - sx * sy AS DOUBLE)
        |      / CAST(n * sxx - sx * sx AS DOUBLE) END AS theta,
        |    (CAST(sx AS DOUBLE) / 100.0) / CAST(n AS DOUBLE) AS mean_pre_pooled
        |  FROM p),
        |v AS (SELECT m.variant, m.n AS n_users,
        |    (CAST(m.sx AS DOUBLE) / 100.0) / CAST(m.n AS DOUBLE) AS mean_pre,
        |    (CAST(m.sy AS DOUBLE) / 100.0) / CAST(m.n AS DOUBLE) AS mean_post,
        |    th.theta,
        |    (CAST(m.n * m.syy - m.sy * m.sy AS DOUBLE) / 10000.0)
        |      / CAST(m.n * m.n AS DOUBLE) AS var_post,
        |    (CAST(m.n * m.sxx - m.sx * m.sx AS DOUBLE) / 10000.0)
        |      / CAST(m.n * m.n AS DOUBLE) AS var_pre,
        |    (CAST(m.n * m.sxy - m.sx * m.sy AS DOUBLE) / 10000.0)
        |      / CAST(m.n * m.n AS DOUBLE) AS cov_pre_post,
        |    th.mean_pre_pooled
        |  FROM m, th)
        |SELECT variant, n_users, mean_pre, mean_post, theta,
        |  mean_post - theta * (mean_pre - mean_pre_pooled) AS mean_post_adj,
        |  var_post,
        |  (var_post - (2.0 * theta) * cov_pre_post)
        |    + (theta * theta) * var_pre AS var_post_adj,
        |  CASE WHEN var_post = 0.0 THEN NULL
        |    ELSE 1.0 - ((var_post - (2.0 * theta) * cov_pre_post)
        |      + (theta * theta) * var_pre) / var_post END AS var_reduction
        |FROM v ORDER BY variant""".stripMargin,
    // q267: exact-integer stratum moments, one sqrt, source-ordered
    // folds for the two cross-strata totals (strata are
    // dimension-bounded), pinned IEEE sequences for every share and
    // the two closed-form design variances,
    "q267_neyman" ->
      """WITH st AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM (SELECT source, CAST(n_chars AS BIGINT) AS y FROM documents)
        |  GROUP BY source),
        |sv AS (SELECT source, n_docs, sy,
        |    CAST(n_docs * syy - sy * sy AS DOUBLE)
        |      / CAST(n_docs * n_docs AS DOUBLE) AS var_y
        |  FROM st),
        |sw AS MATERIALIZED (SELECT source, n_docs, sy, var_y,
        |    sqrt(var_y) AS std_y,
        |    CAST(n_docs AS DOUBLE) * sqrt(var_y) AS ns,
        |    CAST(n_docs AS DOUBLE) * var_y AS nv
        |  FROM sv),
        |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
        |    list_reduce(list_prepend(0.0, list(ns ORDER BY source)),
        |      (a, b) -> a + b) AS t_ns,
        |    list_reduce(list_prepend(0.0, list(nv ORDER BY source)),
        |      (a, b) -> a + b) AS t_nv
        |  FROM sw)
        |SELECT s.source, s.n_docs,
        |  CAST(s.sy AS DOUBLE) / CAST(s.n_docs AS DOUBLE) AS mean_chars,
        |  s.std_y AS std_chars,
        |  CASE WHEN t.t_ns = 0.0 THEN NULL ELSE s.ns / t.t_ns END AS neyman_share,
        |  CAST(s.n_docs AS DOUBLE) / CAST(t.n_total AS DOUBLE) AS prop_share,
        |  (t.t_ns * t.t_ns) / 200.0 AS var_neyman,
        |  (CAST(t.n_total AS DOUBLE) / 200.0) * t.t_nv AS var_prop,
        |  CASE WHEN (CAST(t.n_total AS DOUBLE) / 200.0) * t.t_nv = 0.0 THEN NULL
        |    ELSE 1.0 - ((t.t_ns * t.t_ns) / 200.0)
        |      / ((CAST(t.n_total AS DOUBLE) / 200.0) * t.t_nv) END AS efficiency_gain
        |FROM sw s, tot t ORDER BY s.source""".stripMargin,
    // q268: q12's epoch-ms window recipe per chunk and on the full
    // data; the merge rule (fuse the one boundary pair iff gap <=
    // 30 min) is integer arithmetic on the chunk boundary rows,
    "q268_session_merge" ->
      """WITH e AS (SELECT user_id, event_id, ts, epoch_ms(ts) AS ms,
        |    CAST(ts AS DATE) < DATE '2024-01-16' AS c1 FROM events),
        |s AS (SELECT user_id, c1, ms,
        |    CASE WHEN lag(ms) OVER (PARTITION BY user_id, c1 ORDER BY ts, event_id) IS NULL
        |      OR ms - lag(ms) OVER (PARTITION BY user_id, c1 ORDER BY ts, event_id) > 1800000
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM e),
        |g AS (SELECT user_id, c1, CAST(sum(new_s) AS BIGINT) AS n_sessions,
        |    min(ms) AS first_ms, max(ms) AS last_ms FROM s GROUP BY 1, 2),
        |a AS (SELECT user_id, n_sessions AS n1, last_ms AS end1 FROM g WHERE c1),
        |b AS (SELECT user_id, n_sessions AS n2, first_ms AS start2 FROM g WHERE NOT c1),
        |i AS (SELECT COALESCE(a.user_id, b.user_id) AS user_id,
        |    CAST(COALESCE(a.n1, 0) AS BIGINT) AS n_chunk1,
        |    CAST(COALESCE(b.n2, 0) AS BIGINT) AS n_chunk2,
        |    CAST(CASE WHEN a.end1 IS NOT NULL AND b.start2 IS NOT NULL
        |      AND b.start2 - a.end1 <= 1800000 THEN 1 ELSE 0 END AS BIGINT) AS merged
        |  FROM a FULL JOIN b ON a.user_id = b.user_id),
        |fs AS (SELECT user_id,
        |    CASE WHEN lag(ms) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |      OR ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM e),
        |f AS (SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_full
        |  FROM fs GROUP BY 1)
        |SELECT f.user_id, f.n_full, i.n_chunk1, i.n_chunk2, i.merged,
        |  CAST(i.n_chunk1 + i.n_chunk2 - i.merged AS BIGINT) AS n_incr,
        |  CAST(i.n_chunk1 + i.n_chunk2 - i.merged = f.n_full AS INTEGER) AS ok
        |FROM f JOIN i ON i.user_id = f.user_id
        |ORDER BY f.user_id""".stripMargin,
    // q269: ntile(10) matches q104's integer-ntile parity; the minimax
    // closed form is three bounded joins over the bucket frame; every
    // interval mean one exact-integer divide, min/max of identical
    // doubles,
    "q269_isotonic" ->
      s"""WITH $isotonicCtes
        |SELECT b.decile, b.n_docs, b.n_pos,
        |  CAST(b.n_pos AS DOUBLE) / CAST(b.n_docs AS DOUBLE) AS raw_rate,
        |  iso.iso_rate
        |FROM b JOIN iso ON iso.i = b.decile
        |ORDER BY b.decile""".stripMargin,
    // q270: Murphy decomposition over q269's buckets; every component
    // a decile-ordered fold of exact-integer-derived doubles,
    "q270_brier" ->
      s"""WITH $isotonicCtes,
        |fin AS (SELECT b.decile, b.n_docs,
        |    CAST(b.n_pos AS DOUBLE) / CAST(b.n_docs AS DOUBLE) AS raw_rate,
        |    iso.iso_rate
        |  FROM b JOIN iso ON iso.i = b.decile),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n,
        |    CAST(sum(n_pos) AS BIGINT) AS pos FROM b)
        |SELECT t.n,
        |  CAST(t.pos AS DOUBLE) / CAST(t.n AS DOUBLE) AS p_bar,
        |  list_reduce(list_prepend(0.0, list(
        |    (CAST(f.n_docs AS DOUBLE) / CAST(t.n AS DOUBLE))
        |      * ((f.iso_rate * f.iso_rate - (2.0 * f.iso_rate) * f.raw_rate)
        |        + f.raw_rate) ORDER BY f.decile)), (a, b) -> a + b) AS brier,
        |  list_reduce(list_prepend(0.0, list(
        |    (CAST(f.n_docs AS DOUBLE) / CAST(t.n AS DOUBLE))
        |      * ((f.iso_rate - f.raw_rate) * (f.iso_rate - f.raw_rate))
        |    ORDER BY f.decile)), (a, b) -> a + b) AS reliability,
        |  list_reduce(list_prepend(0.0, list(
        |    (CAST(f.n_docs AS DOUBLE) / CAST(t.n AS DOUBLE))
        |      * ((f.raw_rate - CAST(t.pos AS DOUBLE) / CAST(t.n AS DOUBLE))
        |        * (f.raw_rate - CAST(t.pos AS DOUBLE) / CAST(t.n AS DOUBLE)))
        |    ORDER BY f.decile)), (a, b) -> a + b) AS resolution,
        |  (CAST(t.pos AS DOUBLE) / CAST(t.n AS DOUBLE))
        |    * (1.0 - CAST(t.pos AS DOUBLE) / CAST(t.n AS DOUBLE)) AS uncertainty
        |FROM fin f, t GROUP BY t.n, t.pos""".stripMargin,
    // q271: ranks, τ, depths all integers; the closed-form stop
    // search is one filtered min; scanned_frac one exact divide,
    "q271_ta_depth" ->
      """WITH b AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS s1,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS s2 FROM documents),
        |r AS MATERIALIZED (SELECT doc_id, s1, s2,
        |    row_number() OVER (ORDER BY s1 DESC, doc_id) AS r1,
        |    row_number() OVER (ORDER BY s2 DESC, doc_id) AS r2,
        |    s1 + s2 AS f FROM b),
        |tk AS (SELECT CAST(min(f) AS BIGINT) AS kth_f,
        |    CAST(max(least(r1, r2)) AS BIGINT) AS d0
        |  FROM (SELECT f, r1, r2, doc_id FROM r ORDER BY f DESC, doc_id LIMIT 10)),
        |tau AS MATERIALIZED (SELECT a.r1 AS d, a.s1 + b2.s2 AS tau_d
        |  FROM r a JOIN r b2 ON b2.r2 = a.r1),
        |st AS (SELECT CAST(min(t.d) AS BIGINT) AS stop_depth FROM tau t, tk
        |  WHERE t.d >= tk.d0 AND t.tau_d <= tk.kth_f),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM b)
        |SELECT nn.n_docs, tk.kth_f, tk.d0, st.stop_depth,
        |  CAST(ts.tau_d AS BIGINT) AS tau_at_stop,
        |  CAST(st.stop_depth AS DOUBLE) / CAST(nn.n_docs AS DOUBLE) AS scanned_frac
        |FROM nn, tk, st JOIN tau ts ON ts.d = st.stop_depth""".stripMargin,
    // q272: audit-form (the q33/q58 rule) — the MG estimates are
    // merge-order-dependent and never reach the output; the flags are
    // algorithm invariants, so the oracle states them as literal 1s
    // next to its own exact counts and the ⌊n/(m+1)⌋ bound
    "q272_heavy_hitters" ->
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |tok AS (SELECT token FROM t WHERE token <> ''),
        |c AS (SELECT token, CAST(count(*) AS BIGINT) AS true_count
        |  FROM tok GROUP BY token),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_tok FROM tok)
        |SELECT token, true_count, CAST(n_tok // 33 AS BIGINT) AS bound,
        |  1 AS est_le_true, 1 AS err_within_bound
        |FROM c, n ORDER BY true_count DESC, token LIMIT 10""".stripMargin,
    // q273: FULL sketch replay — CMS cell counts are plain sums, so
    // the same 60-bit fold + Mersenne-prime row hashes rebuild the
    // identical 4×256 table and the estimates match exactly
    "q273_countmin" -> {
      val cell = "((a * h + b) % 2147483647) % 256"
      s"""WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
         |tok AS (SELECT token FROM t WHERE token <> ''),
         |par AS (SELECT * FROM (VALUES (0, 1299721, 7), (1, 15485863, 101),
         |    (2, 32452843, 1009), (3, 49979687, 10007)) AS v(depth, a, b)),
         |hvt AS (SELECT ${hv60Sql("token")} % 2147483647 AS h FROM tok),
         |cms AS MATERIALIZED (SELECT depth, $cell AS cell,
         |    CAST(count(*) AS BIGINT) AS cnt FROM hvt, par GROUP BY 1, 2),
         |probe AS (SELECT token, CAST(count(*) AS BIGINT) AS true_count
         |  FROM tok GROUP BY token ORDER BY true_count DESC, token LIMIT 8),
         |ph AS (SELECT token, true_count,
         |    ${hv60Sql("token")} % 2147483647 AS h FROM probe),
         |pc AS (SELECT token, true_count, depth, $cell AS cell FROM ph, par),
         |est AS (SELECT token, true_count, min(cnt) AS cms_est
         |  FROM pc JOIN cms USING (depth, cell) GROUP BY 1, 2)
         |SELECT token, true_count, CAST(cms_est AS BIGINT) AS cms_est,
         |  CAST(cms_est - true_count AS BIGINT) AS overest
         |FROM est ORDER BY true_count DESC, token""".stripMargin
    },
    // q274: split assignment is pure hash math (hv60 of 'split:'∥id
    // mod 100), replayed exactly; leakage joins the fingerprint's
    // distinct-split count back to every doc
    "q274_split_leakage" ->
      s"""WITH d AS (SELECT doc_id,
         |    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp,
         |    ${hv60Sql("'split:' || CAST(doc_id AS VARCHAR)")} % 100 AS bucket
         |  FROM documents),
         |s AS (SELECT doc_id, fp, CASE WHEN bucket < 90 THEN 'train'
         |    WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split FROM d),
         |fs AS (SELECT fp, count(DISTINCT split) AS n_splits FROM s GROUP BY fp)
         |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
         |  CAST(sum(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_leaky_docs
         |FROM s JOIN fs USING (fp) GROUP BY split ORDER BY split""".stripMargin,
    // q275: occurrence-weighted 5-gram duplication — grams via
    // positional list_slice exactly mirroring TextFunctions.shingles,
    // then the shared 60-bit fold (grams never shuffle as strings on
    // the Spark side; a collision collapses identically here)
    "q275_ngram_dup" ->
      s"""WITH sp AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
         |gr AS (SELECT doc_id, source,
         |    unnest(list_transform(range(1, len(w) - 3),
         |      i -> array_to_string(w[i:i+4], ' '))) AS gram
         |  FROM sp WHERE len(w) >= 5),
         |h AS (SELECT doc_id, source, ${hv60Sql("gram")} AS g FROM gr),
         |gs AS (SELECT g, count(DISTINCT doc_id) AS df, count(*) AS occ
         |  FROM h GROUP BY g)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_crossdoc_dup,
         |  CAST(sum(CASE WHEN occ >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_any_dup,
         |  CASE WHEN count(*) = 0 THEN NULL
         |    ELSE CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         |      / CAST(count(*) AS DOUBLE) END AS crossdoc_dup_rate
         |FROM h JOIN gs USING (g) GROUP BY source ORDER BY source""".stripMargin,
    // q276: lookahead-free character-class regexes only, so Java
    // (Spark rlike) and RE2 (DuckDB regexp_matches) agree symbol for
    // symbol; zero-count cells are still exact cross-engine values
    "q276_pii_scan" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN regexp_matches(text, '[0-9]{6,}') THEN 1 ELSE 0 END) AS BIGINT) AS n_digit_docs,
        |  CAST(sum(len(regexp_extract_all(text, '[0-9]{6,}'))) AS BIGINT) AS n_digit_runs,
        |  CAST(sum(CASE WHEN regexp_matches(text, '[a-z0-9._]+@[a-z0-9.]+') THEN 1 ELSE 0 END) AS BIGINT) AS n_email_docs,
        |  CAST(sum(CASE WHEN regexp_matches(text, '[a-z0-9]{20,}') THEN 1 ELSE 0 END) AS BIGINT) AS n_longtok_docs
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // q277: row_number mirrors GlobalPrefix's global rank; ntile is the
    // standard first-buckets-larger split on both engines; the mean
    // percentile divides in ONE pinned order (Δrank / (N−1) / n)
    "q277_quantile_norm" ->
      """WITH r AS (SELECT doc_id, source, n_chars,
        |    row_number() OVER (ORDER BY n_chars, doc_id) AS grank,
        |    CAST(ntile(10) OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS INTEGER) AS decile
        |  FROM documents),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents)
        |SELECT source, decile, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(grank) AS BIGINT) AS sum_grank,
        |  CASE WHEN n_total <= 1 THEN NULL
        |    ELSE CAST(sum(grank) - count(*) AS DOUBLE)
        |      / CAST(n_total - 1 AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |  END AS mean_global_pctl
        |FROM r, n GROUP BY source, decile, n_total
        |ORDER BY source, decile""".stripMargin,
    // q278: the streaming run's oracle is the batch twin — a
    // stream-static broadcast join has no state, so the replay is a
    // plain join+aggregate over the same fixture
    "q278_stream_static" ->
      """WITH u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS user_events,
        |    CAST(sum(CAST(floor(value * 1.0e6 + 0.5) AS BIGINT)) AS BIGINT) AS user_units
        |  FROM events GROUP BY user_id)
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(floor(value * 1.0e6 + 0.5) AS BIGINT)) AS BIGINT) AS value_units,
        |  CAST(sum(user_units) AS BIGINT) AS enriched_units
        |FROM events JOIN u USING (user_id) GROUP BY event_type""".stripMargin,
    // q279: exact KS — integer cumulative-count cross products, one
    // divide at the end (numerator max is exact BIGINT on both sides)
    "q279_ks_drift" ->
      """WITH c AS (SELECT source, n_chars, count(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |sup AS (SELECT DISTINCT n_chars FROM c),
        |t AS (SELECT source, sum(c) AS n_s FROM c GROUP BY source),
        |n AS (SELECT sum(c) AS nn FROM c),
        |grid AS (SELECT s.n_chars, t.source, t.n_s, coalesce(x.c, 0) AS c
        |  FROM sup s CROSS JOIN t
        |  LEFT JOIN c x ON x.source = t.source AND x.n_chars = s.n_chars),
        |cs AS (SELECT source, n_s, n_chars,
        |    sum(c) OVER (PARTITION BY source ORDER BY n_chars) AS cum_s FROM grid),
        |g AS (SELECT n_chars, sum(c) AS cg FROM c GROUP BY n_chars),
        |cg AS (SELECT n_chars, sum(cg) OVER (ORDER BY n_chars) AS cum_g FROM g)
        |SELECT source, CAST(n_s AS BIGINT) AS n_source,
        |  CAST(nn - n_s AS BIGINT) AS n_rest,
        |  CAST(max(abs(cum_s * (nn - n_s) - (cum_g - cum_s) * n_s)) AS BIGINT) AS d_num,
        |  CASE WHEN nn - n_s = 0 THEN NULL
        |    ELSE CAST(max(abs(cum_s * (nn - n_s) - (cum_g - cum_s) * n_s)) AS DOUBLE)
        |      / CAST(n_s * (nn - n_s) AS DOUBLE) END AS ks_stat
        |FROM cs JOIN cg USING (n_chars) CROSS JOIN n
        |GROUP BY source, n_s, nn ORDER BY source""".stripMargin,
    // q280: stateless quasi-id bands, group sizes, 4 thresholds
    "q280_k_anonymity" ->
      """WITH g AS (SELECT source, lang, n_chars // 100 AS band,
        |    CAST(count(*) AS BIGINT) AS gsize
        |  FROM documents GROUP BY 1, 2, 3),
        |x AS (SELECT gsize, unnest([2, 5, 10, 20]) AS k FROM g)
        |SELECT k, CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(sum(CASE WHEN gsize < k THEN 1 ELSE 0 END) AS BIGINT) AS n_small_groups,
        |  CAST(sum(CASE WHEN gsize < k THEN gsize ELSE 0 END) AS BIGINT) AS docs_at_risk,
        |  CASE WHEN sum(gsize) = 0 THEN NULL
        |    ELSE CAST(sum(CASE WHEN gsize < k THEN gsize ELSE 0 END) AS DOUBLE)
        |      / CAST(sum(gsize) AS DOUBLE) END AS risk_rate
        |FROM x GROUP BY k ORDER BY k""".stripMargin,
    // q281: integer-cents quantization first, so the first digit comes
    // from a BIGINT's decimal rendering (engine-stable); expected
    // shares are the same literal doubles Spark embeds
    "q281_benford" ->
      """WITH d AS (SELECT CAST(substring(CAST(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
        |      AS VARCHAR), 1, 1) AS INTEGER) AS digit FROM lineitem),
        |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM d GROUP BY digit),
        |n AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_total FROM c),
        |e AS (SELECT digit, n_obs,
        |    CASE digit WHEN 1 THEN 0.3010299956639812 WHEN 2 THEN 0.17609125905568124
        |      WHEN 3 THEN 0.12493873660829992 WHEN 4 THEN 0.09691001300805642
        |      WHEN 5 THEN 0.07918124604762482 WHEN 6 THEN 0.06694678963061322
        |      WHEN 7 THEN 0.05799194697768673 WHEN 8 THEN 0.05115252244738129
        |      ELSE 0.04575749056067514 END AS exp_share FROM c)
        |SELECT digit, n_obs, exp_share,
        |  CAST(n_obs AS DOUBLE) / CAST(n_total AS DOUBLE) AS obs_share,
        |  CAST(n_obs AS DOUBLE) / CAST(n_total AS DOUBLE) - exp_share AS dev,
        |  (CAST(n_obs AS DOUBLE) - exp_share * CAST(n_total AS DOUBLE))
        |    * (CAST(n_obs AS DOUBLE) - exp_share * CAST(n_total AS DOUBLE))
        |    / (exp_share * CAST(n_total AS DOUBLE)) AS chi2_term
        |FROM e, n ORDER BY digit""".stripMargin,
    // q282: DuckDB's ntile over the same (score desc, id) order is
    // bit-equal to the GlobalPrefix rank + ntileExpr form (q104)
    "q282_lift_table" ->
      """WITH r AS (SELECT doc_id, n_chars,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
        |    ntile(10) OVER (ORDER BY n_chars DESC, doc_id) AS decile
        |  FROM documents),
        |b AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(pos) AS BIGINT) AS n_pos FROM r GROUP BY decile),
        |c AS (SELECT decile, n_docs, n_pos,
        |    CAST(sum(n_pos) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos
        |  FROM b),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS nn,
        |    CAST(sum(n_pos) AS BIGINT) AS pp FROM b)
        |SELECT CAST(decile AS INTEGER) AS decile, n_docs, n_pos, cum_pos,
        |  CASE WHEN pp = 0 OR n_docs = 0 THEN NULL
        |    ELSE (CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE))
        |      / (CAST(pp AS DOUBLE) / CAST(nn AS DOUBLE)) END AS lift,
        |  CASE WHEN pp = 0 THEN NULL
        |    ELSE CAST(cum_pos AS DOUBLE) / CAST(pp AS DOUBLE) END AS cum_capture
        |FROM c, t ORDER BY decile""".stripMargin,
    // q283: the discount weights are exact BIGINT micro-unit literals
    // (10^15/log2(i+1)), so DCG/IDCG are order-free integer sums
    "q283_ndcg" ->
      """WITH d AS (SELECT doc_id, source, n_chars,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS rel,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS i
        |  FROM documents),
        |wu AS (SELECT * FROM (VALUES (1, 1000000000000000), (2, 630929753571458),
        |    (3, 500000000000000), (4, 430676558073393), (5, 386852807234542),
        |    (6, 356207187108022), (7, 333333333333333), (8, 315464876785729),
        |    (9, 301029995663981), (10, 289064826317888)) AS v(i, wu)),
        |pre AS (SELECT * FROM (VALUES (1, 1000000000000000), (2, 1630929753571458),
        |    (3, 2130929753571458), (4, 2561606311644851), (5, 2948459118879393),
        |    (6, 3304666305987415), (7, 3637999639320748), (8, 3953464516106477),
        |    (9, 4254494511770458), (10, 4543559338088346)) AS w(p, c)),
        |g AS (SELECT source, CAST(sum(rel * wu) AS BIGINT) AS dcg_units
        |  FROM d JOIN wu USING (i) WHERE d.i <= 10 GROUP BY source),
        |p AS (SELECT source, CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
        |  FROM documents GROUP BY source)
        |SELECT g.source, p.n_pos, g.dcg_units,
        |  CAST(CASE WHEN p.n_pos = 0 THEN 0 ELSE pre.c END AS BIGINT) AS idcg_units,
        |  CASE WHEN p.n_pos = 0 THEN NULL
        |    ELSE CAST(g.dcg_units AS DOUBLE) / CAST(pre.c AS DOUBLE) END AS ndcg10
        |FROM g JOIN p USING (source)
        |LEFT JOIN pre ON pre.p = least(p.n_pos, 10)
        |ORDER BY source""".stripMargin,
    // q284: 2×2 cells exact; kappa collapses to ONE divide of exact
    // integers (n·(n11+n00) − pe_num)/(n² − pe_num); pe = 1 → NULL
    "q284_kappa" ->
      """WITH d AS (SELECT source,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS ra,
        |    CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS rb
        |  FROM documents),
        |c AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(ra * rb) AS BIGINT) AS n11,
        |    CAST(sum(ra * (1 - rb)) AS BIGINT) AS n10,
        |    CAST(sum((1 - ra) * rb) AS BIGINT) AS n01,
        |    CAST(sum((1 - ra) * (1 - rb)) AS BIGINT) AS n00
        |  FROM d GROUP BY source)
        |SELECT source, n, n11, n10, n01, n00,
        |  CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE) AS po,
        |  CAST((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00) AS DOUBLE)
        |    / CAST(n * n AS DOUBLE) AS pe,
        |  CASE WHEN n * n = (n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)
        |    THEN NULL
        |    ELSE CAST(n * (n11 + n00)
        |        - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) AS DOUBLE)
        |      / CAST(n * n
        |        - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) AS DOUBLE)
        |  END AS kappa
        |FROM c ORDER BY source""".stripMargin,
    // q285: confusion cells exact over the 5-row literal threshold
    // spine; F1 is the single divide 2tp/(2tp+fp+fn); MCC's sqrt is
    // IEEE correctly-rounded so the pinned product order suffices
    "q285_mcc_sweep" ->
      """WITH th AS (SELECT CAST(t AS BIGINT) AS t
        |    FROM (VALUES (100), (200), (300), (400), (500)) AS v(t)),
        |d AS (SELECT th.t AS t,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
        |    CASE WHEN n_chars >= th.t THEN 1 ELSE 0 END AS p
        |  FROM documents, th),
        |c AS (SELECT t, CAST(sum(y * p) AS BIGINT) AS tp,
        |    CAST(sum((1 - y) * p) AS BIGINT) AS fp,
        |    CAST(sum(y * (1 - p)) AS BIGINT) AS fn,
        |    CAST(sum((1 - y) * (1 - p)) AS BIGINT) AS tn
        |  FROM d GROUP BY t)
        |SELECT t, tp, fp, fn, tn,
        |  CASE WHEN tp + fp <> 0
        |    THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) ELSE NULL END AS prec,
        |  CASE WHEN tp + fn <> 0
        |    THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) ELSE NULL END AS recall,
        |  CASE WHEN 2 * tp + fp + fn <> 0
        |    THEN CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE)
        |    ELSE NULL END AS f1,
        |  CASE WHEN tp + fp <> 0 AND tp + fn <> 0 AND tn + fp <> 0 AND tn + fn <> 0
        |    THEN CAST(tp * tn - fp * fn AS DOUBLE)
        |      / sqrt((CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE))
        |        * (CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE)))
        |    ELSE NULL END AS mcc,
        |  CASE WHEN tp + fn <> 0 AND tn + fp <> 0
        |    THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)
        |      + CAST(tn AS DOUBLE) / CAST(tn + fp AS DOUBLE) - 1.0
        |    ELSE NULL END AS youden_j
        |FROM c ORDER BY t""".stripMargin,
    // q286: arm = hv60('ab:'∥id) mod 2 (the q274 replayable split);
    // z builds from single divides in ONE pinned order; empty arm or
    // constant pooled rate → NULL (σ = 0)
    "q286_ab_z" ->
      s"""WITH d AS (SELECT source,
         |    ${hv60Sql("'ab:' || CAST(doc_id AS VARCHAR)")} % 2 AS arm,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
         |  FROM documents),
         |c AS (SELECT source,
         |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |    CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT) AS x_a,
         |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         |    CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT) AS x_b
         |  FROM d GROUP BY source)
         |SELECT source, n_a, x_a, n_b, x_b,
         |  CASE WHEN n_a = 0 THEN NULL
         |    ELSE CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE) END AS p_a,
         |  CASE WHEN n_b = 0 THEN NULL
         |    ELSE CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE) END AS p_b,
         |  CASE WHEN n_a + n_b = 0 THEN NULL
         |    ELSE CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) END AS p_pool,
         |  CASE WHEN n_a = 0 OR n_b = 0 OR x_a + x_b = 0 OR x_a + x_b = n_a + n_b
         |    THEN NULL
         |    ELSE (CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
         |        - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE))
         |      / sqrt(((CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
         |          * (1.0 - CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)))
         |        * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
         |  END AS z
         |FROM c ORDER BY source""".stripMargin,
    // q287: frequency-of-frequency counts exact; chao1's correction
    // f1(f1−1)/(2(f2+1)) is always defined; coverage = 1 − f1/n
    "q287_chao1" ->
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |tc AS (SELECT source, token, CAST(count(*) AS BIGINT) AS c
        |  FROM tok WHERE token <> '' GROUP BY source, token),
        |f AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS d_obs,
        |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
        |    CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
        |  FROM tc GROUP BY source)
        |SELECT source, n_tokens, d_obs, f1, f2,
        |  CAST(d_obs AS DOUBLE)
        |    + CAST(f1 * (f1 - 1) AS DOUBLE) / CAST(2 * (f2 + 1) AS DOUBLE) AS chao1,
        |  CASE WHEN n_tokens = 0 THEN NULL
        |    ELSE 1.0 - CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE) END AS coverage
        |FROM f ORDER BY source""".stripMargin,
    // q288: varint bytes via INTEGER binary-length math (bin() in
    // both engines — no log); first posting stores doc_id+1 so every
    // encoded value is ≥ 1; df-band = bitlen(df)
    "q288_postings" ->
      """WITH post AS (SELECT DISTINCT token, doc_id FROM (
        |    SELECT unnest(string_split(text, ' ')) AS token, doc_id FROM documents)
        |  WHERE token <> ''),
        |g AS (SELECT token,
        |    COALESCE(doc_id - lag(doc_id) OVER (PARTITION BY token ORDER BY doc_id),
        |      doc_id + 1) AS gap
        |  FROM post),
        |pt AS (SELECT token, CAST(count(*) AS BIGINT) AS df,
        |    CAST(sum((length(bin(gap)) + 6) // 7) AS BIGINT) AS vb
        |  FROM g GROUP BY token)
        |SELECT CAST(length(bin(df)) AS INTEGER) AS df_band,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(df) AS BIGINT) AS n_postings,
        |  CAST(sum(df) * 8 AS BIGINT) AS raw_bytes,
        |  CAST(sum(vb) AS BIGINT) AS varint_bytes,
        |  CASE WHEN sum(df) = 0 THEN NULL
        |    ELSE CAST(sum(vb) AS DOUBLE) / CAST(sum(df) * 8 AS DOUBLE) END
        |    AS compression_ratio
        |FROM pt GROUP BY df_band ORDER BY df_band""".stripMargin,
    // q289: both orders' adjacency via lag over the explicit total
    // order (Spark's two-pass rank ⋈ rank+1 is the same pair set);
    // expected Σ nₛ(nₛ−1)/N exact numerator, one terminal divide
    "q289_mixing" ->
      s"""WITH d AS (SELECT doc_id, source,
         |    ${hv60Sql("'shuffle:' || CAST(doc_id AS VARCHAR)")} AS hv
         |  FROM documents),
         |e AS (SELECT CAST(sum(ns * (ns - 1)) AS BIGINT) AS same_num,
         |    CAST(sum(ns) AS BIGINT) AS n_total
         |  FROM (SELECT CAST(count(*) AS BIGINT) AS ns FROM d GROUP BY source)),
         |sq AS (SELECT source, lag(source) OVER (ORDER BY source, doc_id) AS prev FROM d),
         |sh AS (SELECT source, lag(source) OVER (ORDER BY hv, doc_id) AS prev FROM d),
         |a AS (SELECT 'sequential' AS order_name,
         |    CAST(sum(CASE WHEN prev IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
         |    CAST(sum(CASE WHEN prev = source THEN 1 ELSE 0 END) AS BIGINT) AS n_same
         |  FROM sq
         |  UNION ALL
         |  SELECT 'shuffled' AS order_name,
         |    CAST(sum(CASE WHEN prev IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
         |    CAST(sum(CASE WHEN prev = source THEN 1 ELSE 0 END) AS BIGINT) AS n_same
         |  FROM sh)
         |SELECT order_name, n_pairs, n_same, same_num,
         |  CASE WHEN n_total = 0 THEN NULL
         |    ELSE CAST(same_num AS DOUBLE) / CAST(n_total AS DOUBLE) END AS expected_same,
         |  CASE WHEN same_num = 0 THEN NULL
         |    ELSE CAST(n_same AS DOUBLE)
         |      / (CAST(same_num AS DOUBLE) / CAST(n_total AS DOUBLE)) END AS mix_ratio
         |FROM a, e ORDER BY order_name""".stripMargin,
    // q290: band counts exact; p/q is one divide of integer products;
    // ln is the GraftLn↔libm pair; the ≤12-band sum folds in band
    // order (the q243 list_reduce rule)
    "q290_psi_drift" ->
      """WITH sb AS (SELECT source, n_chars // 50 AS band,
        |    CAST(count(*) AS BIGINT) AS c_sb FROM documents GROUP BY source, band),
        |bt AS (SELECT band, CAST(sum(c_sb) AS BIGINT) AS c_b FROM sb GROUP BY band),
        |st AS (SELECT source, CAST(sum(c_sb) AS BIGINT) AS n_s FROM sb GROUP BY source),
        |nt AS (SELECT CAST(sum(c_sb) AS BIGINT) AS n FROM sb),
        |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_bands_corpus FROM bt),
        |t AS (SELECT sb.source, sb.band, st.n_s,
        |    (CAST(c_sb AS DOUBLE) / CAST(n_s AS DOUBLE)
        |      - CAST(c_b AS DOUBLE) / CAST(n AS DOUBLE))
        |      * ln(CAST(c_sb * n AS DOUBLE) / CAST(c_b * n_s AS DOUBLE)) AS term
        |  FROM sb JOIN bt USING (band) JOIN st USING (source), nt)
        |SELECT source, CAST(max(n_s) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_bands_used,
        |  CAST((SELECT n_bands_corpus FROM nb) - count(*) AS BIGINT) AS n_empty_bands,
        |  list_reduce(list_prepend(0.0, list(term ORDER BY band)),
        |    (a, b) -> a + b) AS psi
        |FROM t GROUP BY source ORDER BY source""".stripMargin,
    // q291: z-quantiles as driver-embedded literals; one IEEE sqrt;
    // σ = 0 (empty arm / constant rate) → NULL, p = 0 guards mde_rel
    "q291_mde" ->
      s"""WITH d AS (SELECT source,
         |    ${hv60Sql("'ab:' || CAST(doc_id AS VARCHAR)")} % 2 AS arm,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
         |  FROM documents),
         |c AS (SELECT source,
         |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         |    CAST(sum(y) AS BIGINT) AS x
         |  FROM d GROUP BY source)
         |SELECT source, n_a, n_b, x,
         |  CASE WHEN n_a + n_b = 0 THEN NULL
         |    ELSE CAST(x AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) END AS p_pool,
         |  CASE WHEN n_a = 0 OR n_b = 0 OR x = 0 OR x = n_a + n_b THEN NULL
         |    ELSE (1.959963984540054 + 0.8416212335729143)
         |      * sqrt(((CAST(x AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
         |          * (1.0 - CAST(x AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)))
         |        * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
         |  END AS mde_abs,
         |  CASE WHEN n_a = 0 OR n_b = 0 OR x = 0 OR x = n_a + n_b THEN NULL
         |    ELSE ((1.959963984540054 + 0.8416212335729143)
         |      * sqrt(((CAST(x AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
         |          * (1.0 - CAST(x AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)))
         |        * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))))
         |      / (CAST(x AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
         |  END AS mde_rel
         |FROM c ORDER BY source""".stripMargin,
    // q292: running LLR is the closed form k·L1 + (n−k)·L0 over
    // literal increments and the exact integer running count — never
    // an accumulated double sum; boundaries are Wald's ln(19) literals
    "q292_sprt_depth" ->
      """WITH w AS (SELECT event_type,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id)
        |      AS BIGINT) AS rn,
        |    CAST(sum(CASE WHEN value >= 30.0 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY event_type ORDER BY ts, event_id
        |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS k
        |  FROM events),
        |l AS (SELECT event_type, rn, k,
        |    CAST(k AS DOUBLE) * 0.20067069546215124
        |      + CAST(rn - k AS DOUBLE) * -0.20067069546215124 AS llr FROM w),
        |t AS (SELECT event_type, CAST(max(rn) AS BIGINT) AS n_events
        |  FROM l GROUP BY event_type),
        |s AS (SELECT event_type, CAST(min(rn) AS BIGINT) AS stop_n FROM l
        |  WHERE llr >= 2.9444389791664403 OR llr <= -2.9444389791664403
        |  GROUP BY event_type)
        |SELECT t.event_type, t.n_events, s.stop_n,
        |  l.k AS k_at_stop, l.llr AS llr_at_stop,
        |  CASE WHEN s.stop_n IS NULL THEN 'none'
        |    WHEN l.llr >= 2.9444389791664403 THEN 'accept_h1'
        |    ELSE 'accept_h0' END AS decision,
        |  CASE WHEN s.stop_n IS NULL THEN NULL
        |    ELSE CAST(s.stop_n AS DOUBLE) / CAST(t.n_events AS DOUBLE)
        |  END AS scanned_frac
        |FROM t LEFT JOIN s USING (event_type)
        |LEFT JOIN l ON l.event_type = t.event_type AND l.rn = s.stop_n
        |ORDER BY event_type""".stripMargin,
    // q293: caps are literal BIGINTs (overflow pads to the exact
    // corpus max); padded sums exact; waste fractions terminal divides
    "q293_padding" ->
      """WITH tk AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |g AS (SELECT CAST(max(n_tok) AS BIGINT) AS gmax FROM tk),
        |b AS (SELECT n_tok, gmax,
        |    CAST(CASE WHEN n_tok <= 32 THEN 32 WHEN n_tok <= 64 THEN 64
        |      WHEN n_tok <= 96 THEN 96 WHEN n_tok <= 128 THEN 128
        |      ELSE gmax END AS BIGINT) AS cap
        |  FROM tk, g),
        |a AS (SELECT cap, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |    CAST(sum(cap) AS BIGINT) AS padded_bucketed,
        |    CAST(sum(gmax) AS BIGINT) AS padded_single
        |  FROM b GROUP BY cap)
        |SELECT cap, n_docs, n_tokens, padded_bucketed, padded_single,
        |  CASE WHEN padded_bucketed = 0 THEN NULL
        |    ELSE CAST(padded_bucketed - n_tokens AS DOUBLE)
        |      / CAST(padded_bucketed AS DOUBLE) END AS waste_bucketed,
        |  CASE WHEN padded_single = 0 THEN NULL
        |    ELSE CAST(padded_single - n_tokens AS DOUBLE)
        |      / CAST(padded_single AS DOUBLE) END AS waste_single
        |FROM a ORDER BY cap""".stripMargin,
    // q294: observed cells exact; expected and the χ² term are single
    // pinned double expressions per cell; margins > 0 by construction
    "q294_chi2_hours" ->
      """WITH cells AS (SELECT event_type, hour(ts) // 6 AS band,
        |    CAST(count(*) AS BIGINT) AS o FROM events GROUP BY event_type, band),
        |rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS row_tot
        |  FROM cells GROUP BY event_type),
        |ct AS (SELECT band, CAST(sum(o) AS BIGINT) AS col_tot FROM cells GROUP BY band),
        |nt AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells)
        |SELECT event_type, band, o, row_tot, col_tot,
        |  CAST(row_tot * col_tot AS DOUBLE) / CAST(n AS DOUBLE) AS expected,
        |  CASE WHEN row_tot = 0 OR col_tot = 0 THEN NULL
        |    ELSE (CAST(o AS DOUBLE)
        |        - CAST(row_tot * col_tot AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (CAST(o AS DOUBLE)
        |        - CAST(row_tot * col_tot AS DOUBLE) / CAST(n AS DOUBLE))
        |      / (CAST(row_tot * col_tot AS DOUBLE) / CAST(n AS DOUBLE))
        |  END AS chi2_term
        |FROM cells JOIN rt USING (event_type) JOIN ct USING (band), nt
        |ORDER BY event_type, band""".stripMargin,
    // q295: the five BPE merge rounds unrolled as generated CTE stages
    // (the q264 superstep pattern); the merge fold replays Spark's
    // left-to-right non-overlapping semantics structurally (seeded
    // list fold, NOT string replace); pair counts exact integers with
    // a total (c desc, l, r) tiebreak on both engines,
    "q295_bpe_merges" -> {
      val selects = (1 to 5).map(k =>
        s"""SELECT CAST($k AS INTEGER) AS merge_round, m.l AS pair_left,
           |  m.r AS pair_right, m.l || m.r AS merged, m.c AS pair_count,
           |  n.n_after AS n_symbols_after FROM m$k m, n$k n""".stripMargin)
        .mkString("\n  UNION ALL\n  ")
      s"""WITH $bpeChainCte
         |$selects
         |ORDER BY merge_round""".stripMargin
    },
    // q300: s5 of the shared chain IS the learned segmentation (merges
    // applied in training order); joining it to the per-(source, word)
    // histogram replays Spark's applyMerges projection; the two ratios
    // are terminal divides of the aggregated BIGINTs,
    "q300_bpe_apply" ->
      s"""WITH $bpeChainCte,
         |sw AS (SELECT source, word, CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents) z
         |  WHERE word <> '' GROUP BY source, word),
         |ap AS (SELECT sw.source, sw.freq,
         |    CAST(length(sw.word) AS BIGINT) AS n_chars,
         |    CAST(len(s5.syms) AS BIGINT) AS n_syms
         |  FROM sw JOIN s5 USING (word)),
         |a AS (SELECT source,
         |    CAST(sum(freq) AS BIGINT) AS n_words,
         |    CAST(sum(freq * n_chars) AS BIGINT) AS n_chars,
         |    CAST(sum(freq * n_syms) AS BIGINT) AS n_symbols
         |  FROM ap GROUP BY source)
         |SELECT source, n_words, n_chars, n_symbols,
         |  CAST(n_symbols AS DOUBLE) / CAST(n_words AS DOUBLE) AS fertility,
         |  CAST(n_chars AS DOUBLE) / CAST(n_symbols AS DOUBLE) AS compression
         |FROM a ORDER BY source""".stripMargin,
    // q301: replays the q296 span chain, explodes each span side into
    // covered positions, distinct-counts per doc, and rolls up per
    // source against the raw token counts; one terminal divide,
    "q301_dup_coverage" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |gr AS (SELECT doc_id, unnest(range(0, len(w) - 4)) AS pos,
         |    unnest([array_to_string(w[i+1:i+5], ' ') FOR i IN range(0, len(w) - 4)]) AS gram
         |  FROM w WHERE len(w) >= 5),
         |g AS (SELECT doc_id, pos, ${hv60Sql("gram")} AS g FROM gr),
         |an AS (SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb,
         |    a.pos - b.pos AS diag
         |  FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id),
         |r AS (SELECT *, CASE WHEN lag(pa) OVER (PARTITION BY da, db, diag
         |    ORDER BY pa) = pa - 1 THEN 0 ELSE 1 END AS brk FROM an),
         |ri AS (SELECT *, sum(brk) OVER (PARTITION BY da, db, diag ORDER BY pa
         |    ROWS UNBOUNDED PRECEDING) AS run FROM r),
         |sp AS (SELECT da, db, min(pa) AS pos_a, min(pb) AS pos_b,
         |    CAST(count(*) + 4 AS BIGINT) AS match_len
         |  FROM ri GROUP BY da, db, diag, run
         |  HAVING count(*) + 4 >= 12),
         |cov AS (SELECT DISTINCT doc_id, tokpos FROM (
         |    SELECT da AS doc_id, unnest(range(pos_a, pos_a + match_len)) AS tokpos FROM sp
         |    UNION ALL
         |    SELECT db, unnest(range(pos_b, pos_b + match_len)) FROM sp) u),
         |cc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_cov FROM cov GROUP BY doc_id),
         |d AS (SELECT doc_id, source,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
         |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |    CAST(sum(coalesce(cc.n_cov, 0)) AS BIGINT) AS n_covered
         |  FROM d LEFT JOIN cc USING (doc_id) GROUP BY source)
         |SELECT source, n_docs, n_tokens, n_covered,
         |  CAST(n_covered AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS dup_frac
         |FROM a ORDER BY source""".stripMargin,
    // q303: the q279 grid with gap weights — every term an exact
    // integer product |cum_s·n_r − cum_r·n_s|·gap summed order-free,
    // one terminal divide,
    "q303_w1_drift" ->
      """WITH c AS (SELECT source, n_chars, count(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |sup AS (SELECT DISTINCT n_chars FROM c),
        |gaps AS (SELECT n_chars,
        |    CAST(coalesce(lead(n_chars) OVER (ORDER BY n_chars) - n_chars, 0)
        |      AS BIGINT) AS gap FROM sup),
        |t AS (SELECT source, sum(c) AS n_s FROM c GROUP BY source),
        |n AS (SELECT sum(c) AS nn FROM c),
        |grid AS (SELECT s.n_chars, t.source, t.n_s, coalesce(x.c, 0) AS c
        |  FROM sup s CROSS JOIN t
        |  LEFT JOIN c x ON x.source = t.source AND x.n_chars = s.n_chars),
        |cs AS (SELECT source, n_s, n_chars,
        |    sum(c) OVER (PARTITION BY source ORDER BY n_chars) AS cum_s FROM grid),
        |g AS (SELECT n_chars, sum(c) AS cg FROM c GROUP BY n_chars),
        |cg AS (SELECT n_chars, sum(cg) OVER (ORDER BY n_chars) AS cum_g FROM g)
        |SELECT source, CAST(n_s AS BIGINT) AS n_source,
        |  CAST(nn - n_s AS BIGINT) AS n_rest,
        |  CAST(sum(abs(cum_s * (nn - n_s) - (cum_g - cum_s) * n_s) * gap)
        |    AS BIGINT) AS w1_num,
        |  CASE WHEN nn - n_s = 0 THEN NULL
        |    ELSE CAST(sum(abs(cum_s * (nn - n_s) - (cum_g - cum_s) * n_s) * gap)
        |        AS DOUBLE)
        |      / CAST(n_s * (nn - n_s) AS DOUBLE) END AS w1_chars
        |FROM cs JOIN cg USING (n_chars) JOIN gaps USING (n_chars) CROSS JOIN n
        |GROUP BY source, n_s, nn ORDER BY source""".stripMargin,
    // q304: candidates from the shared minhash banding CTE, truth from
    // the shared shingle CTE's exact >=0.8 Jaccard pairs; every count
    // exact, three guarded divides,
    "q304_blocking_audit" ->
      s"""WITH $minhashPairsCte,
         |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |iv AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |truth AS (SELECT doc_a, doc_b FROM iv
         |  JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
         |  WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.8),
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM mh_pairs),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
         |nx AS (SELECT CAST(count(*) AS BIGINT) AS n_caught FROM truth t
         |  WHERE EXISTS (SELECT 1 FROM mh_pairs p
         |    WHERE p.doc_a = t.doc_a AND p.doc_b = t.doc_b))
         |SELECT n_docs, CAST(n_docs * (n_docs - 1) / 2 AS BIGINT) AS n_possible,
         |  n_candidates, n_truth, n_caught,
         |  1.0 - CAST(n_candidates AS DOUBLE)
         |    / CAST(n_docs * (n_docs - 1) / 2 AS DOUBLE) AS reduction_ratio,
         |  CASE WHEN n_truth = 0 THEN NULL
         |    ELSE CAST(n_caught AS DOUBLE) / CAST(n_truth AS DOUBLE)
         |  END AS pairs_completeness,
         |  CASE WHEN n_candidates = 0 THEN NULL
         |    ELSE CAST(n_caught AS DOUBLE) / CAST(n_candidates AS DOUBLE)
         |  END AS pair_quality
         |FROM nd, nc, nt, nx""".stripMargin,
    // q305: the q20 fingerprint + min-id survivor rule per source;
    // exact integers, one terminal divide,
    "q305_dedup_impact" ->
      """WITH d AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
        |  FROM documents),
        |sv AS (SELECT fp, min(doc_id) AS doc_id FROM d GROUP BY fp),
        |k AS (SELECT d.*, CASE WHEN sv.doc_id IS NOT NULL THEN 1 ELSE 0 END AS kept
        |  FROM d LEFT JOIN sv ON sv.doc_id = d.doc_id AND sv.fp = d.fp)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(kept) AS BIGINT) AS n_kept,
        |  CAST(count(*) - sum(kept) AS BIGINT) AS n_dropped,
        |  CAST(sum(n_tok) AS BIGINT) AS tokens_total,
        |  CAST(sum(CASE WHEN kept = 1 THEN n_tok ELSE 0 END) AS BIGINT) AS tokens_kept,
        |  CAST(sum(n_tok) - sum(CASE WHEN kept = 1 THEN n_tok ELSE 0 END) AS BIGINT)
        |    AS tokens_dropped,
        |  CAST(sum(n_tok) - sum(CASE WHEN kept = 1 THEN n_tok ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(n_tok) AS DOUBLE) AS drop_frac
        |FROM k GROUP BY source ORDER BY source""".stripMargin,
    // q302: s5 again — symbol histogram of the applied corpus, top-20
    // by (count desc, symbol asc), cumulative coverage over the
    // rank-ordered bounded frame,
    "q302_vocab_coverage" ->
      s"""WITH $bpeChainCte,
         |sc AS (SELECT symbol, CAST(sum(freq) AS BIGINT) AS n_occ FROM (
         |    SELECT freq, unnest(syms) AS symbol FROM s5) z GROUP BY symbol),
         |tot AS (SELECT CAST(sum(n_occ) AS BIGINT) AS n_total FROM sc),
         |top AS (SELECT symbol, n_occ,
         |    row_number() OVER (ORDER BY n_occ DESC, symbol ASC) AS rank
         |  FROM sc QUALIFY rank <= 20)
         |SELECT CAST(rank AS INTEGER) AS rank, symbol, n_occ,
         |  CAST(sum(n_occ) OVER (ORDER BY rank ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |    AS cum_occ,
         |  CAST(sum(n_occ) OVER (ORDER BY rank ROWS UNBOUNDED PRECEDING) AS DOUBLE)
         |    / CAST(n_total AS DOUBLE) AS cum_coverage
         |FROM top, tot ORDER BY rank""".stripMargin,
    // q296: anchors, diagonals and run breaks are all exact integers;
    // the chain window replays gaps-and-islands per (da, db, diag);
    // hv60 anchors hash identically on both engines,
    "q296_exact_substr" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |gr AS (SELECT doc_id, unnest(range(0, len(w) - 4)) AS pos,
         |    unnest([array_to_string(w[i+1:i+5], ' ') FOR i IN range(0, len(w) - 4)]) AS gram
         |  FROM w WHERE len(w) >= 5),
         |g AS (SELECT doc_id, pos, ${hv60Sql("gram")} AS g FROM gr),
         |an AS (SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb,
         |    a.pos - b.pos AS diag
         |  FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id),
         |r AS (SELECT *, CASE WHEN lag(pa) OVER (PARTITION BY da, db, diag
         |    ORDER BY pa) = pa - 1 THEN 0 ELSE 1 END AS brk FROM an),
         |ri AS (SELECT *, sum(brk) OVER (PARTITION BY da, db, diag ORDER BY pa
         |    ROWS UNBOUNDED PRECEDING) AS run FROM r)
         |SELECT da AS doc_a, db AS doc_b,
         |  CAST(min(pa) AS INTEGER) AS pos_a, CAST(min(pb) AS INTEGER) AS pos_b,
         |  CAST(count(*) + 4 AS BIGINT) AS match_len
         |FROM ri GROUP BY da, db, diag, run
         |HAVING count(*) + 4 >= 12
         |ORDER BY doc_a, doc_b, pos_a, pos_b""".stripMargin,
    // q297: durations/risk sets exact integers (the q138 construction
    // + the q286 hv60 arm split); e_a and v are the identical pinned
    // double factorizations (divide-first, left-assoc) on both engines;
    // the cumulative risk-set window runs over ALL days (censor-only
    // days deplete the risk set) with the d>=1 filter applied after,
    "q297_log_rank" ->
      s"""WITH pu AS (SELECT user_id,
         |    min(epoch_ms(ts)) AS t0,
         |    min(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END) AS tconv,
         |    max(epoch_ms(ts)) AS tlast
         |  FROM events GROUP BY user_id),
         |du AS (SELECT
         |    ${hv60Sql("'ab:' || CAST(user_id AS VARCHAR)")} % 2 AS arm,
         |    CASE WHEN tconv IS NOT NULL THEN 1 ELSE 0 END AS converted,
         |    (coalesce(tconv, tlast) - t0) // 86400000 AS dur_day
         |  FROM pu),
         |tot AS (SELECT
         |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a_tot,
         |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b_tot
         |  FROM du),
         |bd AS (SELECT dur_day,
         |    CAST(sum(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT) AS d_a,
         |    CAST(sum(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT) AS d_b,
         |    CAST(sum(CASE WHEN arm = 0 THEN 1 - converted ELSE 0 END) AS BIGINT) AS c_a,
         |    CAST(sum(CASE WHEN arm = 1 THEN 1 - converted ELSE 0 END) AS BIGINT) AS c_b
         |  FROM du GROUP BY dur_day),
         |cr AS (SELECT dur_day, d_a, d_b,
         |    n_a_tot - coalesce(CAST(sum(d_a + c_a) OVER (ORDER BY dur_day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS r_a,
         |    n_b_tot - coalesce(CAST(sum(d_b + c_b) OVER (ORDER BY dur_day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS r_b
         |  FROM bd CROSS JOIN tot)
         |SELECT dur_day, r_a, r_b, d_a, d_b,
         |  CAST(d_a + d_b AS DOUBLE) * CAST(r_a AS DOUBLE)
         |    / CAST(r_a + r_b AS DOUBLE) AS e_a,
         |  CAST(d_a AS DOUBLE) - CAST(d_a + d_b AS DOUBLE) * CAST(r_a AS DOUBLE)
         |    / CAST(r_a + r_b AS DOUBLE) AS o_minus_e,
         |  CASE WHEN r_a + r_b <= 1 THEN NULL
         |    ELSE CAST(d_a + d_b AS DOUBLE) * CAST(r_a AS DOUBLE)
         |        / CAST(r_a + r_b AS DOUBLE)
         |      * (CAST(r_b AS DOUBLE) / CAST(r_a + r_b AS DOUBLE))
         |      * (CAST(r_a + r_b - d_a - d_b AS DOUBLE)
         |        / CAST(r_a + r_b - 1 AS DOUBLE))
         |  END AS v_term
         |FROM cr WHERE d_a + d_b >= 1
         |ORDER BY dur_day""".stripMargin,
    // q298: the q234 moment algebra per type with a per-type x origin;
    // residuals are single pinned double expressions; both quadratic
    // sums fold in x order (list_prepend 0.0 seed, the q138 fold rule),
    "q298_durbin_watson" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST(floor(value * 1.0e6 + 0.5) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY event_type, day),
        |d0 AS (SELECT event_type, min(day) AS d0 FROM daily GROUP BY event_type),
        |xy AS (SELECT daily.event_type, CAST(daily.day - d0.d0 AS BIGINT) AS x, y
        |  FROM daily JOIN d0 USING (event_type)),
        |s AS (SELECT event_type, count(*) AS n,
        |    sum(CAST(x AS DECIMAL(38,0))) AS sx,
        |    sum(CAST(y AS DECIMAL(38,0))) AS sy,
        |    sum(CAST(x * x AS DECIMAL(38,0))) AS sxx,
        |    sum(CAST(x * y AS DECIMAL(38,0))) AS sxy
        |  FROM xy GROUP BY event_type),
        |fit AS (SELECT event_type, n,
        |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      AS slope,
        |    (CAST(sy AS DOUBLE)
        |      - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |        * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS icept
        |  FROM s),
        |r AS (SELECT xy.event_type, x, fit.n, fit.slope, fit.icept,
        |    CAST(y AS DOUBLE) - (fit.icept + fit.slope * CAST(x AS DOUBLE)) AS e
        |  FROM xy JOIN fit USING (event_type)),
        |r2 AS (SELECT *, lag(e) OVER (PARTITION BY event_type ORDER BY x) AS ep FROM r),
        |g AS (SELECT event_type,
        |    max(n) AS n_days, max(slope) AS slope, max(icept) AS intercept,
        |    list_reduce(list_prepend(0.0, list(e * e ORDER BY x)),
        |      (a, b) -> a + b) AS sse,
        |    list_reduce(list_prepend(0.0, list(
        |        CASE WHEN ep IS NULL THEN 0.0 ELSE (e - ep) * (e - ep) END
        |        ORDER BY x)), (a, b) -> a + b) AS ssd
        |  FROM r2 GROUP BY event_type)
        |SELECT event_type, n_days, slope, intercept, sse,
        |  CASE WHEN sse = 0.0 THEN NULL ELSE ssd / sse END AS dw,
        |  CASE WHEN sse = 0.0 THEN NULL
        |    ELSE 1.0 - (ssd / sse) / 2.0 END AS rho_hat
        |FROM g ORDER BY event_type""".stripMargin,
    // q299: 48·trend numerator and ×48 detrended values exact BIGINTs;
    // the only doubles are the terminal seasonal_raw divide and the
    // 24-element hour-ordered centering fold,
    "q299_seasonal_decomp" ->
      """WITH h AS (SELECT event_type, epoch_us(ts) // 3600000000 AS slot,
        |    count(*) AS c
        |  FROM events GROUP BY event_type, slot),
        |sp AS (SELECT event_type, unnest(range(s0, s1 + 1)) AS slot
        |  FROM (SELECT event_type, min(slot) AS s0, max(slot) AS s1
        |        FROM h GROUP BY event_type) b),
        |dense AS (SELECT sp.event_type, sp.slot, coalesce(h.c, 0) AS y
        |  FROM sp LEFT JOIN h USING (event_type, slot)),
        |t AS (SELECT event_type, slot, y,
        |    lag(y, 12) OVER (PARTITION BY event_type ORDER BY slot)
        |      + lead(y, 12) OVER (PARTITION BY event_type ORDER BY slot)
        |      + 2 * sum(y) OVER (PARTITION BY event_type ORDER BY slot
        |          ROWS BETWEEN 11 PRECEDING AND 11 FOLLOWING) AS t48
        |  FROM dense),
        |d AS (SELECT event_type, slot % 24 AS hour_of_day,
        |    48 * y - t48 AS d48 FROM t WHERE t48 IS NOT NULL),
        |bh AS (SELECT event_type, hour_of_day,
        |    count(*) AS m_slots, CAST(sum(d48) AS BIGINT) AS sd48
        |  FROM d GROUP BY event_type, hour_of_day),
        |br AS (SELECT *, CAST(sd48 AS DOUBLE)
        |    / CAST(48 * m_slots AS DOUBLE) AS seasonal_raw FROM bh),
        |gr AS (SELECT event_type,
        |    list_reduce(list_prepend(0.0, list(seasonal_raw ORDER BY hour_of_day)),
        |      (a, b) -> a + b) / CAST(count(*) AS DOUBLE) AS gmean
        |  FROM br GROUP BY event_type)
        |SELECT br.event_type, hour_of_day, m_slots, seasonal_raw,
        |  seasonal_raw - gmean AS seasonal_centered
        |FROM br JOIN gr USING (event_type)
        |ORDER BY event_type, hour_of_day""".stripMargin,
    // q306: the q54/q73 trained-cell chain verbatim; each distance is
    // the same pinned expression ((nx - (cd + cd)) + nc2) clamped at 0
    // before the correctly-rounded sqrt; per-cell sums are q9-quantized
    // exact integers, one terminal divide,
    "q306_silhouette" ->
      s"""WITH $ivfCellsSql,
         |ncx AS (SELECT cid, c_emb,
         |    ${dotSql("c_emb", "c_emb")} AS nc2 FROM c2),
         |scd AS (SELECT g.vec_id, g.cid AS own_cid, x.cid, x.nc2,
         |    ${dotSql("g.embedding", "x.c_emb")} AS cd,
         |    ${dotSql("g.embedding", "g.embedding")} AS nx
         |  FROM asg g CROSS JOIN ncx x),
         |sc AS (SELECT vec_id, own_cid, cid,
         |    sqrt(greatest(((nx - (cd + cd)) + nc2), 0.0)) AS dist FROM scd),
         |pv AS (SELECT vec_id, own_cid,
         |    max(CASE WHEN cid = own_cid THEN dist END) AS a,
         |    min(CASE WHEN cid <> own_cid THEN dist END) AS b
         |  FROM sc GROUP BY vec_id, own_cid),
         |sv AS (SELECT own_cid AS cid,
         |    CASE WHEN greatest(a, b) = 0.0 THEN 0.0
         |         ELSE (b - a) / greatest(a, b) END AS s FROM pv),
         |q AS (SELECT cid, CAST(floor(s * 1.0e9 + 0.5) AS BIGINT) AS qs FROM sv)
         |SELECT cid, count(*) AS n_vecs,
         |  CAST(sum(qs) AS BIGINT) AS sil_sum_q9,
         |  CAST(sum(CASE WHEN qs < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative,
         |  CAST(sum(qs) AS DOUBLE)
         |    / CAST(count(*) * 1000000000 AS DOUBLE) AS mean_sil
         |FROM q GROUP BY cid ORDER BY cid""".stripMargin,
    // q307: three unrolled Kleinberg iterations; every neighbor sum
    // folds in neighbor-id order (0.0 seed), every normalization is
    // one max + one divide — identical literal arithmetic both sides,
    "q307_hits" -> {
      // each neighbor sum replays GraphFold.segmentedSum — the bounded
      // two-level fold (residue segments id % 4096 folded in id order,
      // then partials in segment order), the r16 hub-hazard fix,
      val iter = (i: Int) => {
        val hPrev = if (i == 1) "h0" else s"h${i - 1}"
        s"""a${i}p AS (SELECT supp, cust % 4096 AS sg,
           |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |    list(h ORDER BY cust)), (x, y) -> x + y) AS p
           |  FROM e JOIN $hPrev USING (cust) GROUP BY supp, sg),
           |a${i}r AS (SELECT supp, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |    list(p ORDER BY sg)), (x, y) -> x + y) AS a
           |  FROM a${i}p GROUP BY supp),
           |a$i AS (SELECT supp, a / (SELECT max(a) FROM a${i}r) AS a FROM a${i}r),
           |h${i}p AS (SELECT cust, supp % 4096 AS sg,
           |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |    list(a ORDER BY supp)), (x, y) -> x + y) AS p
           |  FROM e JOIN a$i USING (supp) GROUP BY cust, sg),
           |h${i}r AS (SELECT cust, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |    list(p ORDER BY sg)), (x, y) -> x + y) AS h
           |  FROM h${i}p GROUP BY cust),
           |h$i AS (SELECT cust, h / (SELECT max(h) FROM h${i}r) AS h FROM h${i}r)""".stripMargin
      }
      s"""WITH e AS (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |h0 AS (SELECT DISTINCT cust, CAST(1.0 AS DOUBLE) AS h FROM e),
         |${iter(1)},
         |${iter(2)},
         |${iter(3)},
         |deg AS (SELECT supp, count(*) AS n_customers FROM e GROUP BY supp)
         |SELECT CAST(rank AS INTEGER) AS rank, supp AS s_suppkey, n_customers,
         |  a AS authority
         |FROM (SELECT supp, a,
         |        row_number() OVER (ORDER BY a DESC, supp ASC) AS rank
         |      FROM a3) z
         |JOIN deg USING (supp) WHERE rank <= 20 ORDER BY rank""".stripMargin
    },
    // q308: agreement counts and pair counts exact BIGINTs; each
    // pattern's likelihood ratio is the same left-associated product
    // of three single-divide factors on both engines,
    "q308_linkage_patterns" -> {
      def f(g: String, na: String) =
        s"""CASE WHEN $g = 1 THEN 0.95 / (CAST($na AS DOUBLE) / CAST(np AS DOUBLE))
           |       ELSE 0.05 / (1.0 - CAST($na AS DOUBLE) / CAST(np AS DOUBLE)) END""".stripMargin
      s"""WITH c AS (SELECT c_custkey AS k, c_nationkey AS nat,
         |    c_mktsegment AS seg, c_acctbal AS bal FROM customer),
         |p AS (SELECT
         |    CASE WHEN a.seg = b.seg THEN CAST(1 AS BIGINT) ELSE 0 END AS g_seg,
         |    CASE WHEN (a.bal < 0.0) = (b.bal < 0.0) THEN CAST(1 AS BIGINT)
         |         ELSE 0 END AS g_sign,
         |    CASE WHEN floor(a.bal / 1000.0) = floor(b.bal / 1000.0)
         |         THEN CAST(1 AS BIGINT) ELSE 0 END AS g_kbal
         |  FROM c a JOIN c b ON a.nat = b.nat AND a.k < b.k),
         |u AS (SELECT count(*) AS np, CAST(sum(g_seg) AS BIGINT) AS n_seg,
         |    CAST(sum(g_sign) AS BIGINT) AS n_sign,
         |    CAST(sum(g_kbal) AS BIGINT) AS n_kbal FROM p)
         |SELECT g_seg, g_sign, g_kbal, CAST(count(*) AS BIGINT) AS n_pairs,
         |  (${f("g_seg", "n_seg")}
         |   * ${f("g_sign", "n_sign")})
         |   * ${f("g_kbal", "n_kbal")} AS lr
         |FROM p CROSS JOIN u
         |GROUP BY g_seg, g_sign, g_kbal, np, n_seg, n_sign, n_kbal
         |ORDER BY g_seg, g_sign, g_kbal""".stripMargin
    },
    // q309: the ENTIRE AMS sketch is exact integer algebra over the
    // shared 60-bit hash, so the oracle replays every counter
    // bit-for-bit — est and flag are genuinely cross-checked,
    "q309_ams_f2" -> {
      val xs = (0 until 16).map(j =>
        s"CAST(sum((1 - 2 * ((hv >> $j) & 1)) * c) AS BIGINT) AS x$j")
        .mkString(",\n  ")
      val sq = (0 until 16).map(j => s"CAST(x$j AS HUGEINT) * x$j")
        .mkString(" + ")
      s"""WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
         |cnt AS (SELECT token, CAST(count(*) AS BIGINT) AS c FROM t
         |  WHERE token <> '' GROUP BY token),
         |hh AS (SELECT c, ${hv60Sql("'ams:' || token")} AS hv FROM cnt),
         |x AS (SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
         |  CAST(count(*) AS BIGINT) AS n_distinct,
         |  CAST(sum(c * c) AS BIGINT) AS f2_true,
         |  $xs
         |  FROM hh),
         |sq AS (SELECT n_tokens, n_distinct, f2_true,
         |    CAST($sq AS BIGINT) AS est_sum FROM x)
         |SELECT n_tokens, n_distinct, f2_true, est_sum,
         |  CAST(est_sum AS DOUBLE) / 16.0 AS est_f2,
         |  CASE WHEN abs(est_sum - 16 * f2_true) <= 16 * f2_true
         |       THEN 1 ELSE 0 END AS within_bound
         |FROM sq""".stripMargin
    },
    // q310: member distances are the q306 pinned expression; sigma is
    // q9-quantized exact sums with one divide; the k x k ratio matrix
    // is pinned double algebra and the argmax peer breaks double-ties
    // to the lowest cid on both engines,
    "q310_davies_bouldin" ->
      s"""WITH $ivfCellsSql,
         |ncx AS (SELECT cid, c_emb,
         |    ${dotSql("c_emb", "c_emb")} AS nc2 FROM c2),
         |scd AS (SELECT g.vec_id, g.cid, x.cid AS ocid, x.nc2,
         |    ${dotSql("g.embedding", "x.c_emb")} AS cd,
         |    ${dotSql("g.embedding", "g.embedding")} AS nx
         |  FROM asg g CROSS JOIN ncx x),
         |od AS (SELECT cid,
         |    sqrt(greatest(((nx - (cd + cd)) + nc2), 0.0)) AS dist
         |  FROM scd WHERE ocid = cid),
         |qd AS (SELECT cid, CAST(floor(dist * 1.0e9 + 0.5) AS BIGINT) AS q FROM od),
         |sg AS (SELECT cid, count(*) AS n_vecs, CAST(sum(q) AS BIGINT) AS dq
         |  FROM qd GROUP BY cid),
         |sig AS (SELECT cid, n_vecs,
         |    CAST(dq AS DOUBLE) / CAST(n_vecs * 1000000000 AS DOUBLE) AS sigma
         |  FROM sg),
         |cn AS (SELECT n.cid, n.c_emb, n.nc2, s.n_vecs, s.sigma
         |  FROM ncx n JOIN sig s USING (cid)),
         |pr AS (SELECT i.cid, i.n_vecs, i.sigma, j.cid AS peer,
         |    (i.sigma + j.sigma) / sqrt(greatest(((i.nc2
         |      - (${dotSql("i.c_emb", "j.c_emb")}
         |         + ${dotSql("i.c_emb", "j.c_emb")})) + j.nc2), 0.0)) AS r
         |  FROM cn i JOIN cn j ON i.cid <> j.cid),
         |mx AS (SELECT cid, n_vecs, sigma, peer, r,
         |    row_number() OVER (PARTITION BY cid ORDER BY r DESC, peer ASC) AS rk
         |  FROM pr)
         |SELECT cid, n_vecs, sigma, peer AS worst_peer, r AS r_max
         |FROM mx WHERE rk = 1 ORDER BY cid""".stripMargin,
    // q311: per-cell n / sums / squared sums exact (HUGEINT squares);
    // means, variances, DiD, the Welch SE and t are each the same
    // pinned double chain on both engines; the calendar split is
    // exact epoch-day integer arithmetic,
    "q311_diff_in_diff" -> {
      def m(c: String) =
        s"(CAST(s_$c AS DOUBLE) / CAST(n_$c AS DOUBLE)) / 1.0e6"
      def vr(c: String) =
        s"""CAST(CAST(n_$c AS HUGEINT) * ss_$c - s_$c * s_$c AS DOUBLE)
           |    / CAST(n_$c * (n_$c - 1) AS DOUBLE) / 1.0e12""".stripMargin
      val cellAggs = Seq(("t_pre", 1, 0), ("t_post", 1, 1), ("c_pre", 0, 0),
        ("c_post", 0, 1)).map { case (nm, a, p) =>
        s"""  CAST(sum(CASE WHEN arm = $a AND post = $p THEN 1 ELSE 0 END) AS BIGINT) AS n_$nm,
           |  sum(CASE WHEN arm = $a AND post = $p THEN v6 ELSE 0 END) AS s_$nm,
           |  sum(CASE WHEN arm = $a AND post = $p THEN CAST(v6 AS HUGEINT) * v6
           |      ELSE 0 END) AS ss_$nm""".stripMargin
      }.mkString(",\n")
      s"""WITH ev AS (SELECT
         |    ${hv60Sql("'ab:' || CAST(user_id AS VARCHAR)")} % 2 AS arm,
         |    epoch_ms(ts) // 86400000 AS day,
         |    CAST(floor(value * 1.0e6 + 0.5) AS BIGINT) AS v6 FROM events),
         |sp AS (SELECT (min(day) + max(day) + 1) // 2 AS split FROM ev),
         |c AS (SELECT arm, CASE WHEN day >= split THEN 1 ELSE 0 END AS post, v6
         |  FROM ev CROSS JOIN sp),
         |a AS (SELECT
         |$cellAggs
         |  FROM c),
         |mm AS (SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
         |  ${m("t_pre")} AS m_t_pre, ${m("t_post")} AS m_t_post,
         |  ${m("c_pre")} AS m_c_pre, ${m("c_post")} AS m_c_post,
         |  ${vr("t_post")} AS vr_t_post,
         |  ${vr("t_pre")} AS vr_t_pre,
         |  ${vr("c_post")} AS vr_c_post,
         |  ${vr("c_pre")} AS vr_c_pre
         |  FROM a),
         |dd AS (SELECT *,
         |  (m_t_post - m_t_pre) - (m_c_post - m_c_pre) AS did,
         |  sqrt(vr_t_post / CAST(n_t_post AS DOUBLE)
         |    + vr_t_pre / CAST(n_t_pre AS DOUBLE)
         |    + vr_c_post / CAST(n_c_post AS DOUBLE)
         |    + vr_c_pre / CAST(n_c_pre AS DOUBLE)) AS se_did
         |  FROM mm)
         |SELECT (SELECT split FROM sp) AS split_day,
         |  n_t_pre, n_t_post, n_c_pre, n_c_post,
         |  m_t_pre, m_t_post, m_c_pre, m_c_post,
         |  did, se_did, did / se_did AS t_stat
         |FROM dd""".stripMargin
    },
    // q312: endpoint explosion of the shared banding pairs; vol and
    // cut exact integer counts, one guarded terminal divide,
    "q312_conductance" ->
      s"""WITH $minhashPairsCte,
         |es AS (SELECT p.doc_a, p.doc_b, a.source AS src_a, b.source AS src_b
         |  FROM mh_pairs p JOIN documents a ON a.doc_id = p.doc_a
         |  JOIN documents b ON b.doc_id = p.doc_b),
         |tot AS (SELECT 2 * count(*) AS vol_total FROM es),
         |ends AS (SELECT src_a AS source, doc_a AS doc_id, src_a <> src_b AS x
         |    FROM es
         |  UNION ALL
         |  SELECT src_b, doc_b, src_a <> src_b FROM es),
         |g AS (SELECT source, count(DISTINCT doc_id) AS n_nodes, count(*) AS vol,
         |    CAST(sum(CASE WHEN x THEN 1 ELSE 0 END) AS BIGINT) AS cut
         |  FROM ends GROUP BY source)
         |SELECT source, n_nodes, vol, cut, CAST(vol_total AS BIGINT) AS vol_total,
         |  CASE WHEN least(vol, vol_total - vol) = 0 THEN NULL
         |       ELSE CAST(cut AS DOUBLE)
         |         / CAST(least(vol, vol_total - vol) AS DOUBLE) END AS phi
         |FROM g CROSS JOIN tot ORDER BY source""".stripMargin,
    // q313: the rolling gear state replays WITHOUT sequential state
    // via h_i = sum_{j<=i} gear_j * 2^(i-j) mod 2^32 (only the last
    // 32 terms survive — a windowed join); chunk md5s and the
    // first-instance rule are exact on both engines,
    "q313_content_chunks" ->
      s"""WITH d AS (SELECT doc_id, source, text, length(text) AS n
         |  FROM documents WHERE length(text) > 0),
         |p AS (SELECT doc_id, unnest(range(1, n + 1)) AS i FROM d),
         |gp AS (SELECT p.doc_id, p.i,
         |    ${hv60Sql("'gear:' || CAST(ascii(substr(d.text, CAST(p.i AS INTEGER), 1)) AS VARCHAR)")}
         |      % 4294967296 AS gv
         |  FROM p JOIN d USING (doc_id)),
         |hh AS (SELECT a.doc_id, a.i,
         |    CAST(sum(CAST(b.gv AS HUGEINT)
         |        * (CAST(1 AS HUGEINT) << CAST(a.i - b.i AS INTEGER)))
         |      % 4294967296 AS BIGINT) AS hv
         |  FROM gp a JOIN gp b
         |    ON a.doc_id = b.doc_id AND b.i BETWEEN a.i - 31 AND a.i
         |  GROUP BY a.doc_id, a.i),
         |bd AS (SELECT DISTINCT doc_id, i FROM (
         |    SELECT doc_id, i FROM hh WHERE hv % 64 = 0
         |    UNION ALL SELECT doc_id, n FROM d) u),
         |ch AS (SELECT doc_id,
         |    coalesce(lag(i) OVER (PARTITION BY doc_id ORDER BY i), 0) + 1 AS s,
         |    i AS e
         |  FROM bd),
         |cc AS (SELECT c.doc_id, d.source, c.s AS start,
         |    CAST(c.e - c.s + 1 AS INTEGER) AS len,
         |    md5(substr(d.text, CAST(c.s AS INTEGER),
         |        CAST(c.e - c.s + 1 AS INTEGER))) AS h
         |  FROM ch c JOIN d USING (doc_id)),
         |rr AS (SELECT *, row_number() OVER (PARTITION BY h
         |    ORDER BY doc_id, start) AS rn FROM cc)
         |SELECT source, count(DISTINCT doc_id) AS n_docs, count(*) AS n_chunks,
         |  CAST(sum(len) AS BIGINT) AS bytes_total,
         |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_redundant,
         |  CAST(sum(CASE WHEN rn > 1 THEN len ELSE 0 END) AS BIGINT)
         |    AS bytes_redundant,
         |  CAST(sum(CASE WHEN rn > 1 THEN len ELSE 0 END) AS DOUBLE)
         |    / CAST(sum(len) AS DOUBLE) AS dedup_ratio
         |FROM rr GROUP BY source ORDER BY source""".stripMargin,
    // q314: cells and margins exact BIGINTs; per-stratum E/V/OR terms
    // single pinned factorizations (HUGEINT products); the three sums
    // fold in stratum order over the <=7-row frame,
    "q314_cmh" ->
      s"""WITH pu AS (SELECT user_id,
         |    min(epoch_ms(ts) // 86400000) AS first_day,
         |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
         |  FROM events GROUP BY user_id),
         |pa AS (SELECT
         |    ${hv60Sql("'ab:' || CAST(user_id AS VARCHAR)")} % 2 AS arm,
         |    first_day % 7 AS stratum, conv FROM pu),
         |ce AS (SELECT stratum,
         |    CAST(sum(CASE WHEN arm = 1 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
         |    CAST(sum(CASE WHEN arm = 1 AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
         |    CAST(sum(CASE WHEN arm = 0 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
         |    CAST(sum(CASE WHEN arm = 0 AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00
         |  FROM pa GROUP BY stratum),
         |mg AS (SELECT stratum, n11, n10, n01, n00,
         |    n11 + n10 AS r1, n01 + n00 AS r0, n11 + n01 AS c1, n10 + n00 AS c0,
         |    n11 + n10 + n01 + n00 AS n FROM ce),
         |tm AS (SELECT stratum, n11, n,
         |    CAST(r1 * c1 AS DOUBLE) / CAST(n AS DOUBLE) AS e,
         |    CASE WHEN n > 1 THEN CAST(CAST(r1 AS HUGEINT) * r0 * c1 * c0 AS DOUBLE)
         |      / CAST(CAST(n AS HUGEINT) * n * (n - 1) AS DOUBLE)
         |      ELSE 0.0 END AS v,
         |    CAST(n11 * n00 AS DOUBLE) / CAST(n AS DOUBLE) AS orn,
         |    CAST(n10 * n01 AS DOUBLE) / CAST(n AS DOUBLE) AS ord
         |  FROM mg),
         |ag AS (SELECT count(*) AS n_strata, CAST(sum(n) AS BIGINT) AS n_users,
         |    CAST(sum(n11) AS BIGINT) AS sum_obs,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list(e ORDER BY stratum)), (a, b) -> a + b) AS sum_exp,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list(v ORDER BY stratum)), (a, b) -> a + b) AS sum_var,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list(orn ORDER BY stratum)), (a, b) -> a + b) AS or_num,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list(ord ORDER BY stratum)), (a, b) -> a + b) AS or_den
         |  FROM tm)
         |SELECT n_strata, n_users, sum_obs, sum_exp, sum_var,
         |  CASE WHEN sum_var = 0.0 THEN NULL
         |       ELSE ((abs(CAST(sum_obs AS DOUBLE) - sum_exp) - 0.5)
         |             * (abs(CAST(sum_obs AS DOUBLE) - sum_exp) - 0.5)) / sum_var
         |  END AS cmh_chi2,
         |  CASE WHEN or_den = 0.0 THEN NULL ELSE or_num / or_den END AS or_mh
         |FROM ag""".stripMargin,
    // q315: q280's shape with lang moved from quasi-identifier to
    // sensitive attribute; pure exact counting, one guarded divide,
    "q315_l_diversity" ->
      """WITH g AS (SELECT source, n_chars // 100 AS band,
        |    count(*) AS gsize, count(DISTINCT lang) AS nlang
        |  FROM documents GROUP BY source, band),
        |x AS (SELECT gsize, nlang, unnest([2, 3, 5]) AS l FROM g)
        |SELECT l, count(*) AS n_groups,
        |  CAST(sum(CASE WHEN nlang < l THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
        |  CAST(sum(CASE WHEN nlang < l THEN gsize ELSE 0 END) AS BIGINT)
        |    AS docs_at_risk,
        |  CASE WHEN sum(gsize) = 0 THEN NULL
        |       ELSE CAST(sum(CASE WHEN nlang < l THEN gsize ELSE 0 END) AS DOUBLE)
        |         / CAST(sum(gsize) AS DOUBLE) END AS risk_rate
        |FROM x GROUP BY l ORDER BY l""".stripMargin,
    // q316: two unrolled synchronous LPA supersteps over the shared
    // minhash pair CTE; votes are exact BIGINT counts, the argmax is
    // the same (count DESC, label ASC) row_number on both engines,
    "q316_label_prop" -> {
      val step = (i: Int, prev: String) =>
        s"""i$i AS (SELECT v, lab FROM (
           |    SELECT a.v, l.lab, row_number() OVER (PARTITION BY a.v
           |        ORDER BY count(*) DESC, l.lab ASC) AS rn
           |    FROM adj a JOIN $prev l ON a.u = l.v GROUP BY a.v, l.lab) z
           |  WHERE rn = 1)""".stripMargin
      s"""WITH $minhashPairsCte,
         |nodes AS (SELECT DISTINCT v FROM (
         |    SELECT doc_a AS v FROM mh_pairs
         |    UNION ALL SELECT doc_b FROM mh_pairs) e),
         |adj AS (SELECT doc_a AS v, doc_b AS u FROM mh_pairs
         |  UNION ALL SELECT doc_b, doc_a FROM mh_pairs
         |  UNION ALL SELECT v, v FROM nodes),
         |l0 AS (SELECT v, v AS lab FROM nodes),
         |${step(1, "l0")},
         |${step(2, "i1")}
         |SELECT CAST(rank AS INTEGER) AS rank, community, n_members,
         |  min_doc, max_doc
         |FROM (SELECT lab AS community, CAST(count(*) AS BIGINT) AS n_members,
         |        min(v) AS min_doc, max(v) AS max_doc,
         |        row_number() OVER (ORDER BY count(*) DESC, lab ASC) AS rank
         |      FROM i2 GROUP BY lab) g
         |WHERE rank <= 20 ORDER BY rank""".stripMargin
    },
    // q317: the 33-bucket dHash replayed per char (ASCII fixture ⇒
    // ascii(char) = byte); bits via the exact cross-multiplied
    // neighbor test, bands/xor/bit_count pure integer algebra,
    "q317_phash_dedup" ->
      """WITH d AS (SELECT doc_id, source, text FROM documents
        |  WHERE length(text) >= 33),
        |ch AS (SELECT doc_id, length(text) AS L,
        |    unnest(range(0, length(text))) AS i, text FROM d),
        |cb AS (SELECT doc_id, (i * 33) // L AS b,
        |    CAST(ascii(substr(text, CAST(i + 1 AS INTEGER), 1)) AS BIGINT) AS o
        |  FROM ch),
        |bk AS (SELECT doc_id, b, CAST(sum(o) AS BIGINT) AS s,
        |    count(*) AS n FROM cb GROUP BY doc_id, b),
        |bits AS (SELECT doc_id, b,
        |    CASE WHEN s * lead(n) OVER w > lead(s) OVER w * n
        |         THEN CAST(1 AS BIGINT) ELSE 0 END AS bit
        |  FROM bk WINDOW w AS (PARTITION BY doc_id ORDER BY b)),
        |ph0 AS (SELECT doc_id,
        |    CAST(sum(bit * (CAST(1 AS BIGINT) << CAST(b AS INTEGER))) AS BIGINT)
        |      AS ph
        |  FROM bits WHERE b < 32 GROUP BY doc_id),
        |phs AS (SELECT p.doc_id, p.ph, d.source,
        |    CAST(length(d.text) AS BIGINT) AS byte_len
        |  FROM ph0 p JOIN d USING (doc_id)),
        |ex AS (SELECT source, count(*) AS n_payloads,
        |    CAST(count(DISTINCT ph) AS BIGINT) AS n_phash_distinct,
        |    CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
        |    CAST(sum(CASE WHEN rn > 1 THEN byte_len ELSE 0 END) AS BIGINT)
        |      AS bytes_redundant
        |  FROM (SELECT *, row_number() OVER (PARTITION BY ph ORDER BY doc_id)
        |          AS rn FROM phs) z
        |  GROUP BY source),
        |bands AS (SELECT doc_id, ph, source,
        |    (ph >> CAST(8 * band AS INTEGER)) & 255 AS key, band
        |  FROM (SELECT *, unnest(range(0, 4)) AS band FROM phs) z),
        |conf AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.ph AS ph_a, b.ph AS ph_b, a.source AS src_a, b.source AS src_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.ph, b.ph)) <= 3),
        |endp AS (SELECT src_a AS source, (src_a = src_b) AS intra FROM conf
        |  UNION ALL SELECT src_b, (src_a = src_b) FROM conf),
        |pc AS (SELECT source,
        |    CAST(sum(CASE WHEN intra THEN 1 ELSE 0 END) // 2 AS BIGINT)
        |      AS n_intra_pairs,
        |    CAST(sum(CASE WHEN intra THEN 0 ELSE 1 END) AS BIGINT)
        |      AS n_cross_pairs
        |  FROM endp GROUP BY source)
        |SELECT e.source, n_payloads, n_phash_distinct, n_exact_dup,
        |  bytes_redundant,
        |  COALESCE(n_intra_pairs, 0) AS n_intra_pairs,
        |  COALESCE(n_cross_pairs, 0) AS n_cross_pairs
        |FROM ex e LEFT JOIN pc USING (source) ORDER BY source""".stripMargin,
    // q318: per-element 1e6 quantization, then every moment is an
    // exact BIGINT; rest = total − label subtractions; F is the same
    // pinned double factorization on both engines,
    "q318_fisher_dims" -> {
      val muL = "(CAST(s_l AS DOUBLE) / CAST(n_l AS DOUBLE))"
      val muR = "(CAST(s_t - s_l AS DOUBLE) / CAST(n_t - n_l AS DOUBLE))"
      val varL = s"(CAST(s2_l AS DOUBLE) / CAST(n_l AS DOUBLE) - $muL * $muL)"
      val varR = s"(CAST(s2_t - s2_l AS DOUBLE) / CAST(n_t - n_l AS DOUBLE)" +
        s" - $muR * $muR)"
      s"""WITH t AS (SELECT label,
         |    unnest(generate_series(1, len(embedding))) AS i, embedding
         |  FROM embeddings),
         |q AS (SELECT label, CAST(i - 1 AS INTEGER) AS dim,
         |    CAST(floor(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * 1.0e6
         |      + 0.5) AS BIGINT) AS q
         |  FROM t),
         |ld AS (SELECT label, dim, count(*) AS n_l,
         |    CAST(sum(q) AS BIGINT) AS s_l,
         |    CAST(sum(q * q) AS BIGINT) AS s2_l
         |  FROM q GROUP BY label, dim),
         |tt AS (SELECT dim, CAST(sum(n_l) AS BIGINT) AS n_t,
         |    CAST(sum(s_l) AS BIGINT) AS s_t,
         |    CAST(sum(s2_l) AS BIGINT) AS s2_t
         |  FROM ld GROUP BY dim),
         |f AS (SELECT label, dim, n_l,
         |    (($muL - $muR) * ($muL - $muR)) / ($varL + $varR) AS fisher,
         |    ($varL + $varR) AS denom
         |  FROM ld JOIN tt USING (dim))
         |SELECT label, CAST(rank AS INTEGER) AS rank, dim, n_l, fisher
         |FROM (SELECT label, dim, n_l, fisher,
         |        row_number() OVER (PARTITION BY label
         |          ORDER BY fisher DESC, dim ASC) AS rank
         |      FROM f WHERE denom > 0.0) z
         |WHERE rank <= 5 ORDER BY label, rank""".stripMargin
    },
    // q319: the keyed-PRF uniform is hv/2^60 (one divide by an exact
    // power of two), the draw is the same literal inverse-CDF
    // sequence, ln via the GraftLn↔libm pair; counts exact BIGINTs,
    "q319_dp_laplace" ->
      s"""WITH c AS (SELECT source, count(*) AS true_count
         |  FROM documents GROUP BY source),
         |e AS (SELECT * FROM (VALUES ('e01', CAST(0.1 AS DOUBLE)),
         |    ('e1', CAST(1.0 AS DOUBLE)), ('e10', CAST(10.0 AS DOUBLE)))
         |    AS t(tag, eps)),
         |h AS (SELECT source, eps, true_count,
         |    ${hv60Sql("'dp:' || source || ':' || tag")} AS hv
         |  FROM c CROSS JOIN e),
         |v AS (SELECT source, eps, true_count,
         |    (CAST(hv AS DOUBLE) / 1152921504606846976.0) - 0.5 AS v FROM h),
         |n AS (SELECT source, eps, true_count,
         |    ((-(1.0 / eps)) * sign(v)) * ln(1.0 - 2.0 * abs(v)) AS noise
         |  FROM v)
         |SELECT source, eps, CAST(true_count AS BIGINT) AS true_count, noise,
         |  CAST(true_count AS DOUBLE) + noise AS released,
         |  CASE WHEN abs(noise) <= (1.0 / eps) * ln(20.0) THEN 1 ELSE 0 END
         |    AS within_95
         |FROM n ORDER BY source, eps""".stripMargin,
    // q320: closed-form subsequence support over per-(user, type)
    // extrema on the unix_millis·2^20 + event_id total order — pure
    // exact integer algebra, one terminal divide per row,
    "q320_seq_patterns" ->
      """WITH ev AS (SELECT user_id, event_type,
        |    epoch_ms(ts) * 1048576 + event_id AS k FROM events),
        |fl AS (SELECT user_id, event_type, min(k) AS f, max(k) AS l
        |  FROM ev GROUP BY user_id, event_type),
        |nu AS (SELECT count(DISTINCT user_id) AS n_users FROM fl),
        |p AS (SELECT a.event_type AS a, b.event_type AS b,
        |    count(*) AS support
        |  FROM fl a JOIN fl b ON a.user_id = b.user_id AND a.f < b.l
        |  GROUP BY a.event_type, b.event_type),
        |pr AS (SELECT 2 AS len, a || '>' || b AS pattern, support FROM p),
        |eab AS (SELECT e.user_id, a.event_type AS a, e.event_type AS b,
        |    min(e.k) AS e
        |  FROM ev e JOIN fl a ON e.user_id = a.user_id AND e.k > a.f
        |  GROUP BY e.user_id, a.event_type, e.event_type),
        |t AS (SELECT x.a, x.b, c.event_type AS c, count(*) AS support
        |  FROM eab x JOIN fl c ON x.user_id = c.user_id AND x.e < c.l
        |  GROUP BY x.a, x.b, c.event_type),
        |tr AS (SELECT 3 AS len, a || '>' || b || '>' || c AS pattern,
        |    support FROM t),
        |u AS (SELECT len, pattern, CAST(support AS BIGINT) AS support,
        |    row_number() OVER (PARTITION BY len
        |      ORDER BY support DESC, pattern ASC) AS rank
        |  FROM (SELECT * FROM pr UNION ALL SELECT * FROM tr) z)
        |SELECT len, CAST(rank AS INTEGER) AS rank, pattern, support,
        |  CAST(support AS DOUBLE) / CAST(n_users AS DOUBLE) AS support_rate
        |FROM u CROSS JOIN nu
        |WHERE (len = 2 AND rank <= 10) OR (len = 3 AND rank <= 5)
        |ORDER BY len, rank""".stripMargin,
    // q321: four stacked keyed aggregates replay the two ALS
    // alternations; factors quantized once per step (floor(x·10⁶+½)
    // after the step's single pinned divide), Σr·q and Σq² exact
    // BIGINTs, the ·10⁶ rescale the same one IEEE multiply,
    "q321_als_rank1" ->
      """WITH rt AS (SELECT o.o_custkey AS c, l.l_partkey AS p,
        |    CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS r
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |  GROUP BY 1, 2),
        |u0 AS (SELECT c, CAST(floor(CAST(sum(r) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS fq
        |  FROM rt GROUP BY c),
        |v1 AS (SELECT p, CAST(floor((CAST(sum(rt.r * u.fq) AS DOUBLE)
        |      * 1000000.0) / CAST(sum(u.fq * u.fq) AS DOUBLE)
        |      * 1000000.0 + 0.5) AS BIGINT) AS fq
        |  FROM rt JOIN u0 u USING (c) GROUP BY p),
        |u1 AS (SELECT c, CAST(floor((CAST(sum(rt.r * v.fq) AS DOUBLE)
        |      * 1000000.0) / CAST(sum(v.fq * v.fq) AS DOUBLE)
        |      * 1000000.0 + 0.5) AS BIGINT) AS fq
        |  FROM rt JOIN v1 v USING (p) GROUP BY c),
        |v2 AS (SELECT p AS partkey, CAST(count(*) AS BIGINT) AS n_raters,
        |    CAST(sum(rt.r * u.fq) AS BIGINT) AS v_num,
        |    CAST(sum(u.fq * u.fq) AS BIGINT) AS v_den,
        |    (CAST(sum(rt.r * u.fq) AS DOUBLE) * 1000000.0)
        |      / CAST(sum(u.fq * u.fq) AS DOUBLE) AS v_factor
        |  FROM rt JOIN u1 u USING (c) GROUP BY p),
        |top AS (SELECT * FROM v2
        |  ORDER BY v_factor DESC, partkey ASC LIMIT 20)
        |SELECT CAST(row_number() OVER (ORDER BY v_factor DESC, partkey ASC)
        |    AS INTEGER) AS rank,
        |  partkey, n_raters, v_num, v_den, v_factor
        |FROM top ORDER BY rank""".stripMargin,
    // q322: variational distance in cross-multiplied exact-integer
    // form — td·tv_num > 2·tn·n_c·N with t = tn/td rational, absent
    // langs folded as (N − Σ_present g)·n_c; one terminal divide,
    "q322_t_closeness" ->
      """WITH cl AS (SELECT source, n_chars // 100 AS band, lang,
        |    count(*) AS c FROM documents GROUP BY 1, 2, 3),
        |cells AS (SELECT source, band, sum(c) AS n_c
        |  FROM cl GROUP BY 1, 2),
        |gl AS (SELECT lang, sum(c) AS g FROM cl GROUP BY 1),
        |grand AS (SELECT sum(c) AS nn FROM cl),
        |sc AS (SELECT cl.source, cl.band, nn, n_c,
        |    sum(abs(cl.c * nn - gl.g * n_c))
        |      + (nn - sum(gl.g)) * n_c AS tv_num
        |  FROM cl JOIN gl USING (lang) JOIN cells USING (source, band)
        |  CROSS JOIN grand
        |  GROUP BY cl.source, cl.band, nn, n_c),
        |x AS (SELECT sc.*, t.t, t.tn, t.td FROM sc CROSS JOIN
        |  (VALUES (CAST(0.15 AS DOUBLE), 3, 20),
        |          (CAST(0.25 AS DOUBLE), 1, 4),
        |          (CAST(0.40 AS DOUBLE), 2, 5)) AS t(t, tn, td))
        |SELECT t, count(*) AS n_groups,
        |  CAST(sum(CASE WHEN td * tv_num > 2 * tn * n_c * nn
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
        |  CAST(sum(CASE WHEN td * tv_num > 2 * tn * n_c * nn
        |    THEN n_c ELSE 0 END) AS BIGINT) AS docs_at_risk,
        |  CASE WHEN sum(n_c) = 0 THEN NULL
        |       ELSE CAST(sum(CASE WHEN td * tv_num > 2 * tn * n_c * nn
        |              THEN n_c ELSE 0 END) AS DOUBLE)
        |            / CAST(sum(n_c) AS DOUBLE) END AS risk_rate
        |FROM x GROUP BY t ORDER BY t""".stripMargin,
    // q323: the register table is the contract — every M_j must
    // hash-match; rho via exact base-2 string length (no log2 near a
    // boundary), Σ2^(55−M_j) an exact BIGINT, the estimator one
    // pinned literal sequence, ln via the GraftLn↔libm pair,
    "q323_hll_replay" -> {
      s"""WITH t AS (SELECT unnest(string_split(text, ' ')) AS token
         |  FROM documents),
         |tok AS (SELECT token FROM t WHERE token <> ''),
         |hv AS (SELECT token, ${hv60Sql("token")} AS hv FROM tok),
         |rr AS (SELECT hv % 64 AS register,
         |    CASE WHEN hv // 64 = 0 THEN 55
         |         ELSE 55 - length(bin(hv // 64)) END AS rho FROM hv),
         |regs AS (SELECT register, max(rho) AS m_j FROM rr GROUP BY 1),
         |spine AS (SELECT range AS register FROM range(0, 64)),
         |sp AS (SELECT s.register,
         |    CAST(coalesce(m_j, 0) AS BIGINT) AS m_j
         |  FROM spine s LEFT JOIN regs USING (register)),
         |sv AS (SELECT sum(CAST(1 AS BIGINT) << CAST(55 - m_j AS INTEGER))
         |      AS s,
         |    sum(CASE WHEN m_j = 0 THEN 1 ELSE 0 END) AS v FROM sp),
         |ex AS (SELECT CAST(count(DISTINCT token) AS BIGINT)
         |    AS exact_distinct FROM tok),
         |est AS (SELECT exact_distinct,
         |    CASE WHEN ((CAST(0.709 AS DOUBLE) * 4096.0) * 36028797018963968.0)
         |             / CAST(s AS DOUBLE) <= 160.0 AND v > 0
         |         THEN 64.0 * ln(64.0 / CAST(v AS DOUBLE))
         |         ELSE ((CAST(0.709 AS DOUBLE) * 4096.0) * 36028797018963968.0)
         |             / CAST(s AS DOUBLE) END AS hll_est
         |  FROM sv CROSS JOIN ex)
         |SELECT register, m_j, exact_distinct, hll_est,
         |  CASE WHEN abs(hll_est - CAST(exact_distinct AS DOUBLE))
         |           <= CAST(0.39 AS DOUBLE) * CAST(exact_distinct AS DOUBLE)
         |       THEN 1 ELSE 0 END AS within_3sigma
         |FROM sp CROSS JOIN est ORDER BY register""".stripMargin
    },
    // q324: three unrolled power-iteration supersteps, each an exact
    // Σ A_ij·xq_j BIGINT product sum, max exact, the iterate
    // re-quantized after the step's single pinned divide (q321 rule),
    "q324_eigencentrality" ->
      """WITH t0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |tok AS (SELECT doc_id, token FROM t0 WHERE token <> ''),
        |voc AS (SELECT token FROM (SELECT token,
        |    row_number() OVER (ORDER BY count(*) DESC, token ASC) AS rk
        |  FROM tok GROUP BY token) z WHERE rk <= 50),
        |inc AS (SELECT DISTINCT doc_id, token FROM tok JOIN voc USING (token)),
        |a AS (SELECT i.token AS i, j.token AS j, CAST(count(*) AS BIGINT) AS w
        |  FROM inc i JOIN inc j ON i.doc_id = j.doc_id AND i.token <> j.token
        |  GROUP BY 1, 2),
        |x0 AS (SELECT token AS j, CAST(1000000 AS BIGINT) AS xq FROM voc),
        |y1 AS (SELECT i, sum(w * xq) AS y FROM a JOIN x0 USING (j) GROUP BY i),
        |m1 AS (SELECT max(y) AS m FROM y1),
        |x1 AS (SELECT i AS j, CAST(floor(CAST(y AS DOUBLE) / CAST(m AS DOUBLE)
        |    * 1000000.0 + 0.5) AS BIGINT) AS xq FROM y1 CROSS JOIN m1),
        |y2 AS (SELECT i, sum(w * xq) AS y FROM a JOIN x1 USING (j) GROUP BY i),
        |m2 AS (SELECT max(y) AS m FROM y2),
        |x2 AS (SELECT i AS j, CAST(floor(CAST(y AS DOUBLE) / CAST(m AS DOUBLE)
        |    * 1000000.0 + 0.5) AS BIGINT) AS xq FROM y2 CROSS JOIN m2),
        |y3 AS (SELECT i, sum(w * xq) AS y FROM a JOIN x2 USING (j) GROUP BY i),
        |m3 AS (SELECT max(y) AS m FROM y3),
        |x3 AS (SELECT i AS j, CAST(floor(CAST(y AS DOUBLE) / CAST(m AS DOUBLE)
        |    * 1000000.0 + 0.5) AS BIGINT) AS xq FROM y3 CROSS JOIN m3),
        |df AS (SELECT token, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM inc GROUP BY token),
        |rk AS (SELECT j AS token, xq,
        |    row_number() OVER (ORDER BY xq DESC, j ASC) AS rank FROM x3)
        |SELECT CAST(rank AS INTEGER) AS rank, token, n_docs, xq,
        |  CAST(xq AS DOUBLE) / 1000000.0 AS score
        |FROM rk JOIN df USING (token)
        |WHERE rank <= 20 ORDER BY rank""".stripMargin,
    // q325: per-instant NETTED deltas make tie order algebraically
    // invisible; the split prefix sum (per-day cum + day-spine
    // carry-in) replays the single global running sum exactly,
    "q325_concurrency" ->
      """WITH e AS (SELECT user_id, event_id, ts, epoch_ms(ts) AS ms,
        |    lag(epoch_ms(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_ms
        |  FROM events),
        |f AS (SELECT *, CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000
        |  THEN 1 ELSE 0 END AS new_session FROM e),
        |s AS (SELECT *, sum(new_session) OVER (PARTITION BY user_id
        |  ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_idx
        |  FROM f),
        |iv AS (SELECT user_id, session_idx, min(ms) AS s, max(ms) AS e
        |  FROM s GROUP BY user_id, session_idx),
        |dl AS (SELECT t, d FROM (SELECT s AS t, 1 AS d FROM iv
        |  UNION ALL SELECT e + 1 AS t, -1 AS d FROM iv) z),
        |net AS (SELECT t // 86400000 AS day, t,
        |    CAST(sum(d) AS BIGINT) AS net,
        |    CAST(sum(CASE WHEN d > 0 THEN d ELSE 0 END) AS BIGINT) AS starts,
        |    CAST(sum(CASE WHEN d < 0 THEN -d ELSE 0 END) AS BIGINT) AS ends
        |  FROM dl GROUP BY 1, 2),
        |wd AS (SELECT *, sum(net) OVER (PARTITION BY day ORDER BY t
        |    ROWS UNBOUNDED PRECEDING) AS cum FROM net),
        |dy AS (SELECT day, max(cum) AS max_cum, sum(net) AS day_net,
        |    CAST(sum(starts) AS BIGINT) AS n_starts,
        |    CAST(sum(ends) AS BIGINT) AS n_ends
        |  FROM wd GROUP BY day)
        |SELECT day,
        |  CAST(coalesce(sum(day_net) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS carry_in,
        |  n_starts, n_ends,
        |  CAST(greatest(
        |    coalesce(sum(day_net) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0),
        |    coalesce(sum(day_net) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + max_cum) AS BIGINT) AS peak_concurrent
        |FROM dy ORDER BY day""".stripMargin,
    // q326: directions are cross-multiplied exact integers (sign of
    // x_b·n_a − x_a·n_b), rates single guarded terminal divides,
    "q326_simpson" -> {
      val d = (xa: String, na: String, xb: String, nb: String) =>
        s"CAST(sign(CAST($xb * $na - $xa * $nb AS DOUBLE)) AS INTEGER)"
      s"""WITH u AS (SELECT user_id, count(*) AS n_ev,
         |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
         |  FROM events GROUP BY user_id),
         |ar AS (SELECT
         |    ${hv60Sql("'ab:' || CAST(user_id AS VARCHAR)")} % 2 AS arm,
         |    n_ev // 10 AS stratum, conv FROM u),
         |ce AS (SELECT stratum,
         |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |    CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS x_a,
         |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         |    CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS x_b
         |  FROM ar GROUP BY stratum),
         |po AS (SELECT sum(n_a) AS pn_a, sum(x_a) AS px_a,
         |    sum(n_b) AS pn_b, sum(x_b) AS px_b FROM ce)
         |SELECT stratum, n_a, x_a, n_b, x_b,
         |  CASE WHEN n_a = 0 THEN NULL
         |       ELSE CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE) END AS p_a,
         |  CASE WHEN n_b = 0 THEN NULL
         |       ELSE CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE) END AS p_b,
         |  ${d("x_a", "n_a", "x_b", "n_b")} AS stratum_dir,
         |  ${d("px_a", "pn_a", "px_b", "pn_b")} AS pooled_dir,
         |  CASE WHEN ${d("x_a", "n_a", "x_b", "n_b")}
         |         * ${d("px_a", "pn_a", "px_b", "pn_b")} = -1
         |       THEN 1 ELSE 0 END AS flips
         |FROM ce CROSS JOIN po ORDER BY stratum""".stripMargin
    },
    // q327: priors are exact BIGINT window sums over the complete
    // day x arm spine; mean/bonus pinned divides of exact integers,
    // ln via GraftLn, sqrt the shared correctly-rounded IEEE op,
    "q327_ucb_replay" -> {
      s"""WITH da AS (SELECT epoch_ms(ts) // 86400000 AS day,
         |    ${hv60Sql("'ab3:' || CAST(user_id AS VARCHAR)")} % 3 AS arm,
         |    CAST(count(DISTINCT user_id) AS BIGINT) AS n,
         |    CAST(count(DISTINCT CASE WHEN event_type = 'purchase'
         |      THEN user_id END) AS BIGINT) AS x
         |  FROM events GROUP BY 1, 2),
         |sp AS (SELECT d.day, a.arm
         |  FROM (SELECT DISTINCT day FROM da) d
         |  CROSS JOIN (SELECT range AS arm FROM range(0, 3)) a),
         |fl AS (SELECT sp.day, sp.arm, coalesce(n, 0) AS n, coalesce(x, 0) AS x
         |  FROM sp LEFT JOIN da USING (day, arm)),
         |cm AS (SELECT *, CAST(coalesce(sum(n) OVER (PARTITION BY arm
         |      ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      0) AS BIGINT) AS n_prior,
         |    CAST(coalesce(sum(x) OVER (PARTITION BY arm ORDER BY day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      0) AS BIGINT) AS x_prior FROM fl),
         |tt AS (SELECT day, sum(n_prior) AS t_prior, min(n_prior) AS m_prior
         |  FROM cm GROUP BY day),
         |sc AS (SELECT cm.day, cm.arm, cm.n, cm.x, cm.n_prior, cm.x_prior,
         |    (CAST(x_prior AS DOUBLE) / CAST(n_prior AS DOUBLE))
         |      + sqrt((2.0 * ln(CAST(t_prior AS DOUBLE)))
         |        / CAST(n_prior AS DOUBLE)) AS ucb
         |  FROM cm JOIN tt USING (day) WHERE m_prior > 0),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY day
         |    ORDER BY ucb DESC, arm ASC) AS rk FROM sc)
         |SELECT day, arm, n, x, n_prior, x_prior, ucb,
         |  CASE WHEN rk = 1 THEN 1 ELSE 0 END AS chosen
         |FROM rk ORDER BY day, arm""".stripMargin
    },
    // q328: four unrolled IPF half-steps; achieved marginals exact
    // BIGINT n*wq sums, each weight update the ONE pinned sequence
    // wq' = floor(wq * ((T*1e6)/M) + 0.5) (the q321 discipline),
    "q328_raking" -> {
      s"""WITH s AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n
         |  FROM documents
         |  WHERE ${hv60Sql("'raking:' || CAST(doc_id AS VARCHAR)")} % 10 = 0
         |  GROUP BY 1, 2),
         |st AS (SELECT source, CAST(count(*) AS BIGINT) AS t
         |  FROM documents GROUP BY 1),
         |lt AS (SELECT lang, CAST(count(*) AS BIGINT) AS t
         |  FROM documents GROUP BY 1),
         |c0 AS (SELECT source, lang, n, CAST(1000000 AS BIGINT) AS wq FROM s),
         |m1 AS (SELECT source, sum(n * wq) AS mm FROM c0 GROUP BY source),
         |c1 AS (SELECT c0.source, c0.lang, c0.n,
         |    CAST(floor(CAST(wq AS DOUBLE) * ((CAST(t AS DOUBLE) * 1000000.0)
         |      / CAST(mm AS DOUBLE)) + 0.5) AS BIGINT) AS wq
         |  FROM c0 JOIN m1 USING (source) JOIN st USING (source)),
         |m2 AS (SELECT lang, sum(n * wq) AS mm FROM c1 GROUP BY lang),
         |c2 AS (SELECT c1.source, c1.lang, c1.n,
         |    CAST(floor(CAST(wq AS DOUBLE) * ((CAST(t AS DOUBLE) * 1000000.0)
         |      / CAST(mm AS DOUBLE)) + 0.5) AS BIGINT) AS wq
         |  FROM c1 JOIN m2 USING (lang) JOIN lt USING (lang)),
         |m3 AS (SELECT source, sum(n * wq) AS mm FROM c2 GROUP BY source),
         |c3 AS (SELECT c2.source, c2.lang, c2.n,
         |    CAST(floor(CAST(wq AS DOUBLE) * ((CAST(t AS DOUBLE) * 1000000.0)
         |      / CAST(mm AS DOUBLE)) + 0.5) AS BIGINT) AS wq
         |  FROM c2 JOIN m3 USING (source) JOIN st USING (source)),
         |m4 AS (SELECT lang, sum(n * wq) AS mm FROM c3 GROUP BY lang),
         |c4 AS (SELECT c3.source, c3.lang, c3.n,
         |    CAST(floor(CAST(wq AS DOUBLE) * ((CAST(t AS DOUBLE) * 1000000.0)
         |      / CAST(mm AS DOUBLE)) + 0.5) AS BIGINT) AS wq
         |  FROM c3 JOIN m4 USING (lang) JOIN lt USING (lang)),
         |ach AS (SELECT source, sum(n * wq) AS ms FROM c4 GROUP BY source)
         |SELECT c4.source, c4.lang, n AS n_sample, wq,
         |  CAST(wq AS DOUBLE) / 1000000.0 AS w,
         |  t AS src_target, CAST(ms AS DOUBLE) / 1000000.0 AS src_achieved
         |FROM c4 JOIN ach USING (source) JOIN st USING (source)
         |ORDER BY c4.source, c4.lang""".stripMargin
    },
    // q329: counts exact BIGINTs, revenue through the q02
    // DECIMAL(18,4) exact-sum-then-one-cast discipline,
    "q329_erasure_cascade" -> {
      s"""WITH cu AS (SELECT c_custkey, c_nationkey,
         |    (${hv60Sql("'forget:' || CAST(c_custkey AS VARCHAR)")} % 20 = 0)
         |      AS forget
         |  FROM customer),
         |cs AS (SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_customers,
         |    CAST(sum(CASE WHEN forget THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_forgotten
         |  FROM cu GROUP BY 1),
         |ca AS (SELECT c_nationkey,
         |    CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders_cascade,
         |    CAST(count(l_orderkey) AS BIGINT) AS n_lineitems_cascade,
         |    coalesce(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
         |      AS DECIMAL(18,4))) AS DOUBLE), 0.0) AS revenue_removed
         |  FROM cu JOIN orders ON c_custkey = o_custkey
         |  LEFT JOIN lineitem ON o_orderkey = l_orderkey
         |  WHERE forget GROUP BY 1)
         |SELECT n_name AS nation, n_customers, n_forgotten,
         |  coalesce(n_orders_cascade, 0) AS n_orders_cascade,
         |  coalesce(n_lineitems_cascade, 0) AS n_lineitems_cascade,
         |  coalesce(revenue_removed, 0.0) AS revenue_removed
         |FROM cs LEFT JOIN ca USING (c_nationkey)
         |JOIN nation ON c_nationkey = n_nationkey
         |ORDER BY nation""".stripMargin
    },
    // q330: the q236 SCD2 CTE chain probed at purchase_us - 1; the
    // LEFT join keeps first-event purchases as state 'none',
    "q330_pit_join" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type
        |  FROM events),
        |o AS (SELECT *, CASE WHEN lag(event_type) OVER
        |    (PARTITION BY user_id ORDER BY us, event_id) IS DISTINCT FROM event_type
        |    THEN 1 ELSE 0 END AS brk FROM e),
        |g AS (SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id FROM o),
        |r AS (SELECT user_id, run_id, max(event_type) AS state,
        |    min(us) AS valid_from_us FROM g GROUP BY user_id, run_id),
        |dim AS (SELECT user_id, state, valid_from_us,
        |    COALESCE(lead(valid_from_us) OVER (PARTITION BY user_id
        |      ORDER BY valid_from_us, run_id), 253402300799000000) AS valid_to_us
        |  FROM r),
        |f AS (SELECT user_id, epoch_us(ts) - 1 AS probe_us FROM events
        |  WHERE event_type = 'purchase'),
        |pit AS (SELECT f.user_id, coalesce(d.state, 'none') AS prior_state
        |  FROM f LEFT JOIN dim d ON f.user_id = d.user_id
        |    AND f.probe_us >= d.valid_from_us AND f.probe_us < d.valid_to_us)
        |SELECT prior_state, CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM pit GROUP BY prior_state ORDER BY prior_state""".stripMargin,
    // q331: the declarative ntile window IS the oracle; the engine
    // side replays it via the shared two-pass global rank + the
    // integer ntile formula (the q104 bit-parity),
    "q331_equidepth_hist" ->
      """WITH c AS (SELECT l_orderkey, l_linenumber,
        |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS v
        |  FROM lineitem),
        |t AS (SELECT v, CAST(ntile(16) OVER
        |    (ORDER BY v, l_orderkey, l_linenumber) AS INTEGER) AS bucket
        |  FROM c)
        |SELECT bucket, min(v) AS lo_cents, max(v) AS hi_cents,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT v) AS BIGINT) AS n_distinct
        |FROM t GROUP BY bucket ORDER BY bucket""".stripMargin,
    // q332: snapshot B derived by the same hash buckets, one full
    // outer join, class from null sides + explicit field compares
    // (all columns non-null in the fixture),
    "q332_snapshot_diff" -> {
      s"""WITH a AS (SELECT doc_id, source, lang, n_chars FROM documents),
         |w AS (SELECT a.*,
         |    ${hv60Sql("'snap:' || CAST(doc_id AS VARCHAR)")} % 50 AS b
         |  FROM a),
         |bb AS (SELECT doc_id, source,
         |    CASE WHEN b = 1 THEN 'xx' ELSE lang END AS lang, n_chars
         |  FROM w WHERE b <> 0
         |  UNION ALL SELECT doc_id + 1000000000, source, lang, n_chars
         |  FROM w WHERE b = 2),
         |d AS (SELECT coalesce(a.source, bb.source) AS source,
         |    CASE WHEN bb.doc_id IS NULL THEN 'removed'
         |         WHEN a.doc_id IS NULL THEN 'added'
         |         WHEN a.source <> bb.source OR a.lang <> bb.lang
         |           OR a.n_chars <> bb.n_chars THEN 'changed'
         |         ELSE 'unchanged' END AS class
         |  FROM a FULL OUTER JOIN bb ON a.doc_id = bb.doc_id)
         |SELECT source, class, CAST(count(*) AS BIGINT) AS n
         |FROM d GROUP BY source, class ORDER BY source, class""".stripMargin
    },
    // q333: per-source registers max-merged vs the direct global
    // registers — both paths exact integer maxima of the q323 rho
    // algebra; the match flags are the associativity theorem as data,
    "q333_hll_merge" -> {
      s"""WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS token
         |  FROM documents),
         |tok AS (SELECT source, token FROM t WHERE token <> ''),
         |hv AS (SELECT source, ${hv60Sql("token")} AS hv FROM tok),
         |rr AS (SELECT source, hv % 64 AS register,
         |    CASE WHEN hv // 64 = 0 THEN 55
         |         ELSE 55 - length(bin(hv // 64)) END AS rho FROM hv),
         |ps AS (SELECT source, register, max(rho) AS m_s
         |  FROM rr GROUP BY 1, 2),
         |mg AS (SELECT register, CAST(max(m_s) AS BIGINT) AS m_merged,
         |    CAST(count(*) AS BIGINT) AS n_sources_hit
         |  FROM ps GROUP BY register),
         |di AS (SELECT register, CAST(max(rho) AS BIGINT) AS m_direct
         |  FROM rr GROUP BY register),
         |spine AS (SELECT range AS register FROM range(0, 64))
         |SELECT s.register,
         |  coalesce(m_merged, 0) AS m_merged,
         |  coalesce(m_direct, 0) AS m_direct,
         |  coalesce(n_sources_hit, 0) AS n_sources_hit,
         |  CASE WHEN coalesce(m_merged, 0) = coalesce(m_direct, 0)
         |       THEN 1 ELSE 0 END AS merge_matches
         |FROM spine s LEFT JOIN mg USING (register)
         |LEFT JOIN di USING (register)
         |ORDER BY s.register""".stripMargin
    },
    // q334: the capped twin replays the df cap in SQL — occurrence
    // counts over the same hv60 anchors, kept grams re-joined, then
    // q296's identical diagonal chain; accounting is a cross-joined
    // 1-row rollup of the same df table the filter reads,
    "q334_exact_substr_capped" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |gr AS (SELECT doc_id, unnest(range(0, len(w) - 4)) AS pos,
         |    unnest([array_to_string(w[i+1:i+5], ' ') FOR i IN range(0, len(w) - 4)]) AS gram
         |  FROM w WHERE len(w) >= 5),
         |gg AS (SELECT doc_id, pos, ${hv60Sql("gram")} AS g FROM gr),
         |dfc AS (SELECT g, CAST(count(*) AS BIGINT) AS df FROM gg GROUP BY g),
         |acc AS (SELECT
         |    CAST(coalesce(sum(CASE WHEN df > 16 THEN 1 END), 0) AS BIGINT)
         |      AS grams_capped,
         |    CAST(coalesce(sum(CASE WHEN df > 16 THEN df END), 0) AS BIGINT)
         |      AS anchors_dropped
         |  FROM dfc),
         |kept AS (SELECT gg.doc_id, gg.pos, gg.g
         |  FROM gg JOIN dfc USING (g) WHERE df <= 16),
         |an AS (SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb,
         |    a.pos - b.pos AS diag
         |  FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id),
         |r AS (SELECT *, CASE WHEN lag(pa) OVER (PARTITION BY da, db, diag
         |    ORDER BY pa) = pa - 1 THEN 0 ELSE 1 END AS brk FROM an),
         |ri AS (SELECT *, sum(brk) OVER (PARTITION BY da, db, diag ORDER BY pa
         |    ROWS UNBOUNDED PRECEDING) AS run FROM r)
         |SELECT da AS doc_a, db AS doc_b,
         |  CAST(min(pa) AS INTEGER) AS pos_a, CAST(min(pb) AS INTEGER) AS pos_b,
         |  CAST(count(*) + 4 AS BIGINT) AS match_len,
         |  max(grams_capped) AS grams_capped,
         |  max(anchors_dropped) AS anchors_dropped
         |FROM ri CROSS JOIN acc GROUP BY da, db, diag, run
         |HAVING count(*) + 4 >= 12
         |ORDER BY doc_a, doc_b, pos_a, pos_b""".stripMargin,
    // q337: q296's span CTEs verbatim, then the cut — doc_b-side
    // covered positions distinct, anti-joined off the positional
    // token table, re-joined in position order,
    "q337_substr_cut" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |gr AS (SELECT doc_id, unnest(range(0, len(w) - 4)) AS pos,
         |    unnest([array_to_string(w[i+1:i+5], ' ') FOR i IN range(0, len(w) - 4)]) AS gram
         |  FROM w WHERE len(w) >= 5),
         |gg AS (SELECT doc_id, pos, ${hv60Sql("gram")} AS g FROM gr),
         |an AS (SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb,
         |    a.pos - b.pos AS diag
         |  FROM gg a JOIN gg b ON a.g = b.g AND a.doc_id < b.doc_id),
         |r AS (SELECT *, CASE WHEN lag(pa) OVER (PARTITION BY da, db, diag
         |    ORDER BY pa) = pa - 1 THEN 0 ELSE 1 END AS brk FROM an),
         |ri AS (SELECT *, sum(brk) OVER (PARTITION BY da, db, diag ORDER BY pa
         |    ROWS UNBOUNDED PRECEDING) AS run FROM r),
         |sp AS (SELECT db AS doc_b, min(pb) AS pos_b,
         |    CAST(count(*) + 4 AS BIGINT) AS match_len
         |  FROM ri GROUP BY da, db, diag, run HAVING count(*) + 4 >= 12),
         |cut AS (SELECT DISTINCT doc_b AS doc_id,
         |    unnest(range(pos_b, pos_b + match_len)) AS pos FROM sp),
         |tk AS (SELECT doc_id, unnest(range(0, len(w))) AS pos,
         |    unnest(w) AS token FROM w),
         |kept AS (SELECT t.doc_id, t.pos, t.token FROM tk t
         |  LEFT JOIN cut c ON t.doc_id = c.doc_id AND t.pos = c.pos
         |  WHERE c.doc_id IS NULL),
         |kr AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |    array_to_string(list(token ORDER BY pos), ' ') AS text_cut
         |  FROM kept GROUP BY doc_id),
         |nt AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tok FROM w)
         |SELECT nt.doc_id, n_tok,
         |  coalesce(n_kept, 0) AS n_kept,
         |  n_tok - coalesce(n_kept, 0) AS n_cut,
         |  coalesce(text_cut, '') AS text_cut
         |FROM nt LEFT JOIN kr USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // q335: q331's histogram CTE verbatim, the same pinned literal
    // predicate table, uniform-within-bucket interpolation as ONE
    // left-assoc divide-then-multiply per bucket, contributions
    // folded in bucket order (16 elements, bounded-frame exception),
    "q335_selectivity_audit" ->
      """WITH c AS (SELECT l_orderkey, l_linenumber,
        |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS v
        |  FROM lineitem),
        |t AS (SELECT v, CAST(ntile(16) OVER
        |    (ORDER BY v, l_orderkey, l_linenumber) AS INTEGER) AS bucket
        |  FROM c),
        |h AS (SELECT bucket, min(v) AS lo_cents, max(v) AS hi_cents,
        |    CAST(count(*) AS BIGINT) AS n_rows
        |  FROM t GROUP BY bucket),
        |p AS (SELECT * FROM (VALUES
        |    (CAST(1 AS BIGINT), CAST(100000 AS BIGINT), CAST(1000000 AS BIGINT)),
        |    (2, 0, 20000000), (3, 4000000, 6000000), (4, 9000000, 10500000),
        |    (5, 1, 50000), (6, 2500000, 2500099)) AS vv(pred_id, p_lo, p_hi)),
        |ctr AS (SELECT p.pred_id, p.p_lo, p.p_hi, h.bucket,
        |    CAST(greatest(0, least(hi_cents, p_hi) - greatest(lo_cents, p_lo)
        |        + 1) AS DOUBLE)
        |      / CAST(hi_cents - lo_cents + 1 AS DOUBLE)
        |      * CAST(n_rows AS DOUBLE) AS c
        |  FROM h CROSS JOIN p),
        |e AS (SELECT pred_id, p_lo, p_hi,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(c ORDER BY bucket)), (a, b) -> a + b) AS est_rows
        |  FROM ctr GROUP BY pred_id, p_lo, p_hi),
        |a AS (SELECT pred_id, CAST(count(*) AS BIGINT) AS actual_rows
        |  FROM c JOIN p ON v >= p_lo AND v <= p_hi GROUP BY pred_id)
        |SELECT e.pred_id, p_lo AS lo_cents, p_hi AS hi_cents, est_rows,
        |  coalesce(actual_rows, 0) AS actual_rows,
        |  abs(est_rows - CAST(coalesce(actual_rows, 0) AS DOUBLE)) AS abs_err
        |FROM e LEFT JOIN a USING (pred_id)
        |ORDER BY e.pred_id""".stripMargin,
    // q336: the oracle states q333's theorem — stream-maintained
    // registers equal the whole-corpus registers (max is associative,
    // idempotent under the replayed span); Spark computes both sides
    // genuinely, so a maintenance bug flips a flag / breaks the hash,
    "q336_stream_hll" ->
      s"""WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
         |tok AS (SELECT token FROM t WHERE token <> ''),
         |hv AS (SELECT ${hv60Sql("token")} AS hv FROM tok),
         |rr AS (SELECT hv % 64 AS register,
         |    CASE WHEN hv // 64 = 0 THEN 55
         |         ELSE 55 - length(bin(hv // 64)) END AS rho FROM hv),
         |di AS (SELECT register, CAST(max(rho) AS BIGINT) AS m
         |  FROM rr GROUP BY register),
         |spine AS (SELECT range AS register FROM range(0, 64))
         |SELECT s.register,
         |  coalesce(m, 0) AS m_stream,
         |  coalesce(m, 0) AS m_direct,
         |  1 AS stream_matches
         |FROM spine s LEFT JOIN di USING (register)
         |ORDER BY s.register""".stripMargin,
    // q338: one row per column, exact integer hundredths; avg is the
    // one terminal divide (sum/non-null-count, both exact),
    "q338_multi_col_stats" -> {
      val cols = Seq("l_quantity" -> "q1", "l_extendedprice" -> "q2",
        "l_discount" -> "q3", "l_tax" -> "q4")
      val sel = cols.map { case (n, a) =>
        s"CAST(floor($n * 100.0 + 0.5) AS BIGINT) AS $a" }.mkString(",\n  ")
      val unions = cols.map { case (n, a) =>
        s"""SELECT '$n' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(*) - count($a) AS BIGINT) AS n_nulls,
           |  CAST(count(DISTINCT $a) AS BIGINT) AS n_distinct,
           |  min($a) AS min_units, max($a) AS max_units,
           |  CAST(sum($a) AS BIGINT) AS sum_units,
           |  CAST(sum($a) AS DOUBLE) / CAST(count($a) AS DOUBLE) AS avg_units
           |FROM s""".stripMargin }.mkString("\nUNION ALL\n")
      s"""WITH s AS (SELECT
         |  $sel
         |  FROM lineitem)
         |$unions
         |ORDER BY col_name""".stripMargin
    },
    // q339: the bloom filter replayed bit-for-bit — salted hv60 bit
    // positions mod 16384, membership via IN against the exact bit
    // set; every count BIGINT, fpr the NULL-guarded terminal divide,
    "q339_bloom_prune" ->
      s"""WITH bld AS (SELECT o_orderkey AS key FROM orders
         |  WHERE o_orderpriority = '1-URGENT'),
         |bits AS (SELECT DISTINCT pos FROM (
         |  SELECT ${hv60Sql("'bl1:' || CAST(key AS VARCHAR)")} % 16384 AS pos
         |  FROM bld
         |  UNION ALL
         |  SELECT ${hv60Sql("'bl2:' || CAST(key AS VARCHAR)")} % 16384
         |  FROM bld)),
         |pr AS (SELECT l_orderkey AS key,
         |    ${hv60Sql("'bl1:' || CAST(l_orderkey AS VARCHAR)")} % 16384 AS h1,
         |    ${hv60Sql("'bl2:' || CAST(l_orderkey AS VARCHAR)")} % 16384 AS h2
         |  FROM lineitem),
         |ct AS (SELECT
         |  (SELECT CAST(count(DISTINCT key) AS BIGINT) FROM bld) AS n_build_keys,
         |  (SELECT CAST(count(*) AS BIGINT) FROM bits) AS n_bits_set,
         |  (SELECT CAST(count(*) AS BIGINT) FROM pr) AS n_probe,
         |  (SELECT CAST(count(*) AS BIGINT) FROM pr
         |     WHERE key IN (SELECT key FROM bld)) AS n_true,
         |  (SELECT CAST(count(*) AS BIGINT) FROM pr
         |     WHERE h1 IN (SELECT pos FROM bits)
         |       AND h2 IN (SELECT pos FROM bits)) AS n_pass,
         |  (SELECT CAST(count(*) AS BIGINT) FROM pr
         |     WHERE key IN (SELECT key FROM bld)
         |       AND h1 IN (SELECT pos FROM bits)
         |       AND h2 IN (SELECT pos FROM bits)) AS n_true_pass)
         |SELECT n_build_keys, n_bits_set, n_probe, n_true, n_pass,
         |  n_pass - n_true_pass AS n_false_pass,
         |  n_true - n_true_pass AS n_missed_true,
         |  CASE WHEN n_probe - n_true = 0 THEN NULL
         |    ELSE CAST(n_pass - n_true_pass AS DOUBLE)
         |      / CAST(n_probe - n_true AS DOUBLE) END AS fpr
         |FROM ct""".stripMargin,
    // q340: hash-designated eval split, 8-gram existence via IN (the
    // semi join), per-eval-doc exact counts + one pinned divide,
    "q340_contamination" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |ev AS (SELECT doc_id,
         |    ${hv60Sql("'ev:' || CAST(doc_id AS VARCHAR)")} % 10 = 0 AS ev
         |  FROM w),
         |gr AS (SELECT doc_id,
         |    unnest([array_to_string(w[i+1:i+8], ' ') FOR i IN range(0, len(w) - 7)]) AS gram
         |  FROM w WHERE len(w) >= 8),
         |gg AS (SELECT doc_id, ${hv60Sql("gram")} AS g FROM gr),
         |ge AS (SELECT gg.doc_id, g, ev FROM gg JOIN ev USING (doc_id)),
         |tset AS (SELECT DISTINCT g FROM ge WHERE NOT ev),
         |egr AS (SELECT doc_id, g FROM ge WHERE ev),
         |base AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
         |  FROM egr GROUP BY doc_id),
         |hit AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit
         |  FROM egr WHERE g IN (SELECT g FROM tset) GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(n_grams, 0) AS n_grams,
         |  coalesce(n_hit, 0) AS n_hit,
         |  CASE WHEN coalesce(n_grams, 0) = 0 THEN NULL
         |    ELSE CAST(coalesce(n_hit, 0) AS DOUBLE)
         |      / CAST(n_grams AS DOUBLE) END AS hit_frac,
         |  CASE WHEN coalesce(n_hit, 0) >= 1 THEN 1 ELSE 0 END AS contaminated
         |FROM (SELECT doc_id FROM ev WHERE ev) d
         |LEFT JOIN base USING (doc_id) LEFT JOIN hit USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    // q341: both merge paths replayed — shard partials re-aggregated,
    // NDV through the genuine two-level distinct; flags recomputed,
    "q341_stats_merge" ->
      """WITH d AS (SELECT source, CAST(n_chars AS BIGINT) AS v FROM documents),
        |p AS (SELECT source, CAST(count(*) AS BIGINT) AS c, min(v) AS mn,
        |    max(v) AS mx, CAST(sum(v) AS BIGINT) AS sm FROM d GROUP BY source),
        |m AS (SELECT CAST(sum(c) AS BIGINT) AS m_count, min(mn) AS m_min,
        |    max(mx) AS m_max, CAST(sum(sm) AS BIGINT) AS m_sum FROM p),
        |mn2 AS (SELECT CAST(count(*) AS BIGINT) AS m_ndv FROM
        |  (SELECT DISTINCT v FROM (SELECT DISTINCT source, v FROM d))),
        |dd AS (SELECT CAST(count(*) AS BIGINT) AS d_count, min(v) AS d_min,
        |    max(v) AS d_max, CAST(sum(v) AS BIGINT) AS d_sum,
        |    CAST(count(DISTINCT v) AS BIGINT) AS d_ndv FROM d)
        |SELECT stat, merged_value, direct_value,
        |  CASE WHEN merged_value = direct_value THEN 1 ELSE 0 END AS merge_matches
        |FROM (
        |  SELECT 'count' AS stat, m_count AS merged_value, d_count AS direct_value
        |  FROM m, dd
        |  UNION ALL SELECT 'min', m_min, d_min FROM m, dd
        |  UNION ALL SELECT 'max', m_max, d_max FROM m, dd
        |  UNION ALL SELECT 'sum', m_sum, d_sum FROM m, dd
        |  UNION ALL SELECT 'ndv', m_ndv, d_ndv FROM mn2, dd)
        |ORDER BY stat""".stripMargin,
    // q342: the q338 stats CTE re-derived, then pure integer encoding
    // algebra — bitlen via bin(), the established cross-engine pair,
    "q342_encoding_advisor" -> {
      val cols = Seq("l_quantity" -> "q1", "l_extendedprice" -> "q2",
        "l_discount" -> "q3", "l_tax" -> "q4")
      val sel = cols.map { case (n, a) =>
        s"CAST(floor($n * 100.0 + 0.5) AS BIGINT) AS $a" }.mkString(",\n  ")
      val unions = cols.map { case (n, a) =>
        s"""SELECT '$n' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(DISTINCT $a) AS BIGINT) AS n_distinct FROM s""".stripMargin }
        .mkString("\nUNION ALL\n")
      s"""WITH s AS (SELECT
         |  $sel
         |  FROM lineitem),
         |st AS (
         |$unions),
         |e AS (SELECT col_name, n_rows, n_distinct,
         |  CASE WHEN n_distinct <= 1 THEN CAST(1 AS BIGINT)
         |    ELSE CAST(length(bin(n_distinct - 1)) AS BIGINT) END AS idx_bits
         |  FROM st)
         |SELECT col_name, n_rows, n_distinct, idx_bits,
         |  n_rows * 8 AS plain_bytes,
         |  n_distinct * 8 + (n_rows * idx_bits + 7) // 8 AS dict_bytes,
         |  CASE WHEN n_distinct * 8 + (n_rows * idx_bits + 7) // 8 < n_rows * 8
         |    THEN 'dict' ELSE 'plain' END AS encoding,
         |  CAST(n_rows * 8 - (n_distinct * 8 + (n_rows * idx_bits + 7) // 8)
         |      AS DOUBLE)
         |    / CAST(n_rows * 8 AS DOUBLE) AS saving_frac
         |FROM e ORDER BY col_name""".stripMargin
    },
    // q343: the MEASURED dual-watermark protocol replayed — late
    // filtering lags eviction by one batch, so batches 1-2 admit
    // everything, batch 3 is filtered against eviction-after-batch-2
    // = max(batch-1 events) − delay, and emission is window end <=
    // final watermark; hour-aligned ends vs a microsecond-offset
    // watermark make the boundary forms coincide,
    "q343_stream_late" ->
      s"""WITH e AS (SELECT event_id, epoch_us(ts) AS us FROM events),
        |b0 AS (SELECT us FROM e WHERE event_id % 3 = 0),
        |b1 AS (SELECT us FROM e WHERE event_id % 3 = 1),
        |b2 AS (SELECT us FROM e WHERE event_id % 3 = 2),
        |lw AS (SELECT max(us) - 3600000000 AS wm
        |  FROM b${graft.streaming.StreamQueries.q343LateLagResidue}),
        |adm AS (SELECT us FROM b0
        |  UNION ALL SELECT us FROM b1
        |  UNION ALL
        |  SELECT us FROM b2, lw
        |  WHERE (us // 3600000000) * 3600000000 + 3600000000 > wm),
        |fwm AS (SELECT max(us) - 3600000000 AS wm FROM e)
        |SELECT (us // 3600000000) * 3600000000 AS win_us,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM adm, fwm
        |WHERE (us // 3600000000) * 3600000000 + 3600000000 <= wm
        |GROUP BY win_us ORDER BY win_us""".stripMargin,
    // q344: fold bounds in pure integer day arithmetic off the data's
    // own range; per-interval masses from one day rollup,
    "q344_walk_forward" ->
      """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day FROM events),
        |dc AS (SELECT day, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY day),
        |b AS (SELECT min(day) AS d0, max(day) AS d1,
        |    max(day) - min(day) + 1 AS span FROM dc),
        |f AS (SELECT fold, d0,
        |    d0 + (span * fold + 4) // 5 AS cut,
        |    d0 + (span * fold + 4) // 5 + 1 + (span + 4) // 5 AS t_end
        |  FROM (SELECT unnest([1, 2, 3]) AS fold), b)
        |SELECT fold, cut - d0 AS train_days,
        |  CAST(coalesce(sum(CASE WHEN day < cut THEN n END), 0) AS BIGINT)
        |    AS n_train,
        |  CAST(coalesce(sum(CASE WHEN day >= cut AND day < cut + 1 THEN n END),
        |    0) AS BIGINT) AS n_embargo,
        |  CAST(coalesce(sum(CASE WHEN day >= cut + 1 AND day < t_end THEN n END),
        |    0) AS BIGINT) AS n_test
        |FROM f CROSS JOIN dc
        |GROUP BY fold, d0, cut, t_end
        |ORDER BY fold""".stripMargin,
    // q346: the outer-join emission rule replayed — inner pairs by
    // the interval condition; null rows for matchless purchases at or
    // below the MEASURED query watermark, which is the MIN across the
    // two sides' watermarks (each side's max event time − delay, on
    // the per-type FILTERED streams); the trailing span stays
    // unemitted,
    "q346_stream_left_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us
        |  FROM events),
        |p AS (SELECT event_id AS purchase_id, user_id, us AS p_us FROM e
        |  WHERE event_type = 'purchase'),
        |v AS (SELECT user_id AS vu, event_id AS view_id, us AS v_us FROM e
        |  WHERE event_type = 'view'),
        |inn AS (SELECT purchase_id, user_id, view_id, p_us, v_us
        |  FROM p JOIN v ON user_id = vu AND v_us <= p_us
        |    AND v_us >= p_us - 3600000000),
        |fwm AS (SELECT least((SELECT max(p_us) FROM p),
        |    (SELECT max(v_us) FROM v)) - 3600000000 AS wm),
        |nul AS (SELECT purchase_id, user_id, CAST(NULL AS BIGINT) AS view_id,
        |    p_us, CAST(NULL AS BIGINT) AS v_us
        |  FROM p, fwm WHERE p_us <= wm
        |    AND purchase_id NOT IN (SELECT purchase_id FROM inn))
        |SELECT * FROM inn
        |UNION ALL SELECT * FROM nul
        |ORDER BY purchase_id, view_id""".stripMargin,
    // q347: the q335 estimator over STALE statistics — hash-designated
    // 90% snapshot, identical ntile build, row-count-scaled estimates,
    // today's exact recount, 10% relative-error refresh flags,
    "q347_stats_freshness" ->
      s"""WITH c AS (SELECT l_orderkey, l_linenumber,
         |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS v
         |  FROM lineitem),
         |st AS (SELECT * FROM c
         |  WHERE ${hv60Sql("'st:' || CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)")} % 10 <> 0),
         |t AS (SELECT v, CAST(ntile(16) OVER
         |    (ORDER BY v, l_orderkey, l_linenumber) AS INTEGER) AS bucket
         |  FROM st),
         |h AS (SELECT bucket, min(v) AS lo_cents, max(v) AS hi_cents,
         |    CAST(count(*) AS BIGINT) AS n_rows
         |  FROM t GROUP BY bucket),
         |p AS (SELECT * FROM (VALUES
         |    (CAST(1 AS BIGINT), CAST(100000 AS BIGINT), CAST(1000000 AS BIGINT)),
         |    (2, 0, 20000000), (3, 4000000, 6000000), (4, 9000000, 10500000),
         |    (5, 1, 50000), (6, 2500000, 2500099)) AS vv(pred_id, p_lo, p_hi)),
         |ctr AS (SELECT p.pred_id, p.p_lo, p.p_hi, h.bucket,
         |    CAST(greatest(0, least(hi_cents, p_hi) - greatest(lo_cents, p_lo)
         |        + 1) AS DOUBLE)
         |      / CAST(hi_cents - lo_cents + 1 AS DOUBLE)
         |      * CAST(n_rows AS DOUBLE) AS c
         |  FROM h CROSS JOIN p),
         |e AS (SELECT pred_id, p_lo, p_hi,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list(c ORDER BY bucket)), (a, b) -> a + b) AS est_rows
         |  FROM ctr GROUP BY pred_id, p_lo, p_hi),
         |sc AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM st) AS n_stale,
         |    (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_today),
         |a AS (SELECT pred_id, CAST(count(*) AS BIGINT) AS actual_rows
         |  FROM c JOIN p ON v >= p_lo AND v <= p_hi GROUP BY pred_id),
         |z AS (SELECT e.pred_id, p_lo AS lo_cents, p_hi AS hi_cents,
         |    est_rows / CAST(n_stale AS DOUBLE) * CAST(n_today AS DOUBLE)
         |      AS est_scaled,
         |    coalesce(actual_rows, 0) AS actual_rows
         |  FROM e CROSS JOIN sc LEFT JOIN a USING (pred_id)),
         |z2 AS (SELECT *, CASE WHEN actual_rows = 0 THEN NULL
         |    ELSE abs(est_scaled - CAST(actual_rows AS DOUBLE))
         |      / CAST(actual_rows AS DOUBLE) END AS rel_err FROM z)
         |SELECT pred_id, lo_cents, hi_cents, est_scaled, actual_rows, rel_err,
         |  CASE WHEN rel_err > CAST(0.10 AS DOUBLE) THEN 1 ELSE 0 END AS refresh
         |FROM z2 ORDER BY pred_id""".stripMargin,
    // q348: textbook containment estimates from exact counts/NDVs,
    // identical left-associated double sequences, actual recounts,
    "q348_join_order" ->
      """WITH s AS (SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM customer) AS nc,
        |  (SELECT CAST(count(DISTINCT c_custkey) AS BIGINT) FROM customer) AS dc_ck,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders) AS no_,
        |  (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders) AS do_ck,
        |  (SELECT CAST(count(DISTINCT o_orderkey) AS BIGINT) FROM orders) AS do_ok,
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS nl,
        |  (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) FROM lineitem) AS dl_ok,
        |  (SELECT CAST(count(*) AS BIGINT) FROM customer JOIN orders
        |     ON c_custkey = o_custkey) AS a_co,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders JOIN lineitem
        |     ON o_orderkey = l_orderkey) AS a_ol),
        |e AS (SELECT *,
        |  CAST(nc AS DOUBLE) * CAST(no_ AS DOUBLE)
        |    / CAST(greatest(dc_ck, do_ck) AS DOUBLE) AS est_co,
        |  CAST(no_ AS DOUBLE) * CAST(nl AS DOUBLE)
        |    / CAST(greatest(do_ok, dl_ok) AS DOUBLE) AS est_ol
        |  FROM s),
        |f AS (SELECT *,
        |  est_co * CAST(nl AS DOUBLE)
        |    / greatest(least(CAST(do_ok AS DOUBLE), est_co),
        |        CAST(dl_ok AS DOUBLE)) AS est_co_total,
        |  est_ol * CAST(nc AS DOUBLE)
        |    / greatest(least(CAST(do_ck AS DOUBLE), est_ol),
        |        CAST(dc_ck AS DOUBLE)) AS est_ol_total
        |  FROM e)
        |SELECT 'co_first' AS join_order, est_co AS est_intermediate,
        |  a_co AS actual_intermediate, est_co_total AS est_final,
        |  CASE WHEN est_co <= est_ol THEN 1 ELSE 0 END AS chosen FROM f
        |UNION ALL
        |SELECT 'ol_first', est_ol, a_ol, est_ol_total,
        |  CASE WHEN est_ol < est_co THEN 1 ELSE 0 END FROM f
        |ORDER BY join_order""".stripMargin,
    // q349: the cumulative gates replayed stage by stage; survivors
    // are min-doc_id per hash (the q19/q20 oracle forms), retention
    // is a single pinned divide per row,
    "q349_pipeline_yield" -> {
      val stages = Seq(
        (0, "raw", "b"), (1, "lang_en", "s1"), (2, "len_ge_50", "s2"),
        (3, "exact_dedup", "s3"), (4, "fingerprint_dedup", "s4"))
      val unions = stages.map { case (i, g, t) =>
        s"""SELECT $i AS stage, '$g' AS gate,
           |  CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(coalesce(sum(n_tok), 0) AS BIGINT) AS n_tokens FROM $t""".stripMargin }
        .mkString("\nUNION ALL\n")
      s"""WITH b AS (SELECT doc_id, lang,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         |    md5(text) AS h,
         |    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
         |  FROM documents),
         |s1 AS (SELECT * FROM b WHERE lang = 'en'),
         |s2 AS (SELECT * FROM s1 WHERE n_tok >= 50),
         |es AS (SELECT min(doc_id) AS doc_id FROM s2 GROUP BY h),
         |s3 AS (SELECT s2.* FROM s2 JOIN es USING (doc_id)),
         |fs AS (SELECT min(doc_id) AS doc_id FROM s3 GROUP BY fp),
         |s4 AS (SELECT s3.* FROM s3 JOIN fs USING (doc_id)),
         |raw AS (SELECT CAST(count(*) AS BIGINT) AS raw_docs,
         |    CAST(sum(n_tok) AS BIGINT) AS raw_tokens FROM b),
         |z AS (
         |$unions)
         |SELECT stage, gate, n_docs, n_tokens,
         |  CAST(n_docs AS DOUBLE) / CAST(raw_docs AS DOUBLE) AS doc_retention,
         |  CAST(n_tokens AS DOUBLE) / CAST(raw_tokens AS DOUBLE) AS token_retention
         |FROM z CROSS JOIN raw ORDER BY stage""".stripMargin
    },
    // q350: the q345 quota table re-derived, then the keyed greedy
    // prefix as a window cumulative sum in hash order,
    "q350_mixture_sample" ->
      s"""WITH t AS (SELECT source,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
         |  FROM documents),
         |w AS (SELECT source, CAST(sum(tok) AS BIGINT) AS w FROM t
         |  GROUP BY source),
         |tot AS (SELECT CAST(sum(w) AS BIGINT) AS wt FROM w),
         |s AS (SELECT source, w, (1000000 * w) // wt AS base,
         |    (1000000 * w) % wt AS rem FROM w, tot),
         |lo AS (SELECT CAST(1000000 - sum(base) AS BIGINT) AS leftover FROM s),
         |q AS (SELECT source, CAST(base + CASE WHEN
         |      row_number() OVER (ORDER BY rem DESC, source ASC) <= leftover
         |      THEN 1 ELSE 0 END AS BIGINT) AS alloc
         |  FROM s, lo),
         |d AS (SELECT source, doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
         |    ${hv60Sql("'mx:' || CAST(doc_id AS VARCHAR)")} AS hv
         |  FROM documents),
         |cum AS (SELECT source, doc_id, tok,
         |    sum(tok) OVER (PARTITION BY source ORDER BY hv ASC, doc_id ASC
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM d),
         |p AS (SELECT cum.source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(tok) AS BIGINT) AS packed_tokens
         |  FROM cum JOIN q USING (source) WHERE cum <= alloc
         |  GROUP BY cum.source)
         |SELECT q.source, alloc AS quota_tokens,
         |  coalesce(n_docs, 0) AS n_docs,
         |  coalesce(packed_tokens, 0) AS packed_tokens,
         |  CASE WHEN alloc = 0 THEN NULL
         |    ELSE CAST(coalesce(packed_tokens, 0) AS DOUBLE)
         |      / CAST(alloc AS DOUBLE) END AS utilization
         |FROM q LEFT JOIN p USING (source)
         |ORDER BY q.source""".stripMargin,
    // q345: Hamilton largest-remainder apportionment in exact
    // integers; remainder ranking deterministic (rem desc, source asc),
    "q345_token_budget" ->
      """WITH t AS (SELECT source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
        |  FROM documents),
        |w AS (SELECT source, CAST(sum(tok) AS BIGINT) AS w FROM t
        |  GROUP BY source),
        |tot AS (SELECT CAST(sum(w) AS BIGINT) AS wt FROM w),
        |s AS (SELECT source, w, (1000000 * w) // wt AS base,
        |    (1000000 * w) % wt AS rem FROM w, tot),
        |lo AS (SELECT CAST(1000000 - sum(base) AS BIGINT) AS leftover FROM s),
        |r AS (SELECT s.*, leftover,
        |    row_number() OVER (ORDER BY rem DESC, source ASC) AS rrank
        |  FROM s, lo)
        |SELECT source, w AS tokens, CAST(base AS BIGINT) AS base,
        |  CAST(rem AS BIGINT) AS rem,
        |  CAST(base + CASE WHEN rrank <= leftover THEN 1 ELSE 0 END AS BIGINT)
        |    AS alloc
        |FROM r ORDER BY source""".stripMargin,
    // q351: q334's df-cap CTEs (occurrence counts, kept grams,
    // accounting rollup) feeding q337's cut CTEs verbatim; the
    // accounting cross-joins onto the per-document output, which
    // always has one row per document — zero-span-safe,
    "q351_substr_cut_capped" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |gr AS (SELECT doc_id, unnest(range(0, len(w) - 4)) AS pos,
         |    unnest([array_to_string(w[i+1:i+5], ' ') FOR i IN range(0, len(w) - 4)]) AS gram
         |  FROM w WHERE len(w) >= 5),
         |gg AS (SELECT doc_id, pos, ${hv60Sql("gram")} AS g FROM gr),
         |dfc AS (SELECT g, CAST(count(*) AS BIGINT) AS df FROM gg GROUP BY g),
         |acc AS (SELECT
         |    CAST(coalesce(sum(CASE WHEN df > 16 THEN 1 END), 0) AS BIGINT)
         |      AS grams_capped,
         |    CAST(coalesce(sum(CASE WHEN df > 16 THEN df END), 0) AS BIGINT)
         |      AS anchors_dropped
         |  FROM dfc),
         |kg AS (SELECT gg.doc_id, gg.pos, gg.g
         |  FROM gg JOIN dfc USING (g) WHERE df <= 16),
         |an AS (SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb,
         |    a.pos - b.pos AS diag
         |  FROM kg a JOIN kg b ON a.g = b.g AND a.doc_id < b.doc_id),
         |r AS (SELECT *, CASE WHEN lag(pa) OVER (PARTITION BY da, db, diag
         |    ORDER BY pa) = pa - 1 THEN 0 ELSE 1 END AS brk FROM an),
         |ri AS (SELECT *, sum(brk) OVER (PARTITION BY da, db, diag ORDER BY pa
         |    ROWS UNBOUNDED PRECEDING) AS run FROM r),
         |sp AS (SELECT db AS doc_b, min(pb) AS pos_b,
         |    CAST(count(*) + 4 AS BIGINT) AS match_len
         |  FROM ri GROUP BY da, db, diag, run HAVING count(*) + 4 >= 12),
         |cut AS (SELECT DISTINCT doc_b AS doc_id,
         |    unnest(range(pos_b, pos_b + match_len)) AS pos FROM sp),
         |tk AS (SELECT doc_id, unnest(range(0, len(w))) AS pos,
         |    unnest(w) AS token FROM w),
         |kept AS (SELECT t.doc_id, t.pos, t.token FROM tk t
         |  LEFT JOIN cut c ON t.doc_id = c.doc_id AND t.pos = c.pos
         |  WHERE c.doc_id IS NULL),
         |kr AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |    array_to_string(list(token ORDER BY pos), ' ') AS text_cut
         |  FROM kept GROUP BY doc_id),
         |nt AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tok FROM w)
         |SELECT nt.doc_id, n_tok,
         |  coalesce(n_kept, 0) AS n_kept,
         |  n_tok - coalesce(n_kept, 0) AS n_cut,
         |  coalesce(text_cut, '') AS text_cut,
         |  grams_capped, anchors_dropped
         |FROM nt LEFT JOIN kr USING (doc_id) CROSS JOIN acc
         |ORDER BY nt.doc_id""".stripMargin,
    // q352: q334's df-cap CTEs feeding q301's coverage rollup
    // verbatim; accounting cross-joined onto the per-source rows,
    "q352_dup_coverage_capped" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |gr AS (SELECT doc_id, unnest(range(0, len(w) - 4)) AS pos,
         |    unnest([array_to_string(w[i+1:i+5], ' ') FOR i IN range(0, len(w) - 4)]) AS gram
         |  FROM w WHERE len(w) >= 5),
         |gg AS (SELECT doc_id, pos, ${hv60Sql("gram")} AS g FROM gr),
         |dfc AS (SELECT g, CAST(count(*) AS BIGINT) AS df FROM gg GROUP BY g),
         |acc AS (SELECT
         |    CAST(coalesce(sum(CASE WHEN df > 16 THEN 1 END), 0) AS BIGINT)
         |      AS grams_capped,
         |    CAST(coalesce(sum(CASE WHEN df > 16 THEN df END), 0) AS BIGINT)
         |      AS anchors_dropped
         |  FROM dfc),
         |kg AS (SELECT gg.doc_id, gg.pos, gg.g
         |  FROM gg JOIN dfc USING (g) WHERE df <= 16),
         |an AS (SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb,
         |    a.pos - b.pos AS diag
         |  FROM kg a JOIN kg b ON a.g = b.g AND a.doc_id < b.doc_id),
         |r AS (SELECT *, CASE WHEN lag(pa) OVER (PARTITION BY da, db, diag
         |    ORDER BY pa) = pa - 1 THEN 0 ELSE 1 END AS brk FROM an),
         |ri AS (SELECT *, sum(brk) OVER (PARTITION BY da, db, diag ORDER BY pa
         |    ROWS UNBOUNDED PRECEDING) AS run FROM r),
         |sp AS (SELECT da, db, min(pa) AS pos_a, min(pb) AS pos_b,
         |    CAST(count(*) + 4 AS BIGINT) AS match_len
         |  FROM ri GROUP BY da, db, diag, run
         |  HAVING count(*) + 4 >= 12),
         |cov AS (SELECT DISTINCT doc_id, tokpos FROM (
         |    SELECT da AS doc_id, unnest(range(pos_a, pos_a + match_len)) AS tokpos FROM sp
         |    UNION ALL
         |    SELECT db, unnest(range(pos_b, pos_b + match_len)) FROM sp) u),
         |cc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_cov FROM cov GROUP BY doc_id),
         |d AS (SELECT doc_id, source,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
         |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |    CAST(sum(coalesce(cc.n_cov, 0)) AS BIGINT) AS n_covered
         |  FROM d LEFT JOIN cc USING (doc_id) GROUP BY source)
         |SELECT source, n_docs, n_tokens, n_covered,
         |  CAST(n_covered AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS dup_frac,
         |  grams_capped, anchors_dropped
         |FROM a CROSS JOIN acc ORDER BY source""".stripMargin,
    // q353: q349's stage CTEs verbatim, then gate 5 — the q351 capped
    // cut replayed WITHIN the stage-4 survivor corpus; survivors with
    // >= 1 kept token count, kept token mass sums,
    "q353_yield_v2" -> {
      val stages = Seq(
        (0, "raw", "b"), (1, "lang_en", "s1"), (2, "len_ge_50", "s2"),
        (3, "exact_dedup", "s3"), (4, "fingerprint_dedup", "s4"))
      val unions = stages.map { case (i, g, t) =>
        s"""SELECT $i AS stage, '$g' AS gate,
           |  CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(coalesce(sum(n_tok), 0) AS BIGINT) AS n_tokens FROM $t""".stripMargin }
        .mkString("\nUNION ALL\n")
      s"""WITH b AS (SELECT doc_id, lang,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         |    md5(text) AS h,
         |    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
         |  FROM documents),
         |s1 AS (SELECT * FROM b WHERE lang = 'en'),
         |s2 AS (SELECT * FROM s1 WHERE n_tok >= 50),
         |es AS (SELECT min(doc_id) AS doc_id FROM s2 GROUP BY h),
         |s3 AS (SELECT s2.* FROM s2 JOIN es USING (doc_id)),
         |fs AS (SELECT min(doc_id) AS doc_id FROM s3 GROUP BY fp),
         |s4 AS (SELECT s3.* FROM s3 JOIN fs USING (doc_id)),
         |wd AS (SELECT d.doc_id, string_split(d.text, ' ') AS w
         |  FROM documents d JOIN s4 USING (doc_id)),
         |gr5 AS (SELECT doc_id, unnest(range(0, len(w) - 4)) AS pos,
         |    unnest([array_to_string(w[i+1:i+5], ' ') FOR i IN range(0, len(w) - 4)]) AS gram
         |  FROM wd WHERE len(w) >= 5),
         |gg5 AS (SELECT doc_id, pos, ${hv60Sql("gram")} AS g FROM gr5),
         |dfc5 AS (SELECT g, CAST(count(*) AS BIGINT) AS df FROM gg5 GROUP BY g),
         |kg5 AS (SELECT gg5.doc_id, gg5.pos, gg5.g
         |  FROM gg5 JOIN dfc5 USING (g) WHERE df <= 16),
         |an5 AS (SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb,
         |    a.pos - b.pos AS diag
         |  FROM kg5 a JOIN kg5 b ON a.g = b.g AND a.doc_id < b.doc_id),
         |r5 AS (SELECT *, CASE WHEN lag(pa) OVER (PARTITION BY da, db, diag
         |    ORDER BY pa) = pa - 1 THEN 0 ELSE 1 END AS brk FROM an5),
         |ri5 AS (SELECT *, sum(brk) OVER (PARTITION BY da, db, diag ORDER BY pa
         |    ROWS UNBOUNDED PRECEDING) AS run FROM r5),
         |sp5 AS (SELECT db AS doc_b, min(pb) AS pos_b,
         |    CAST(count(*) + 4 AS BIGINT) AS match_len
         |  FROM ri5 GROUP BY da, db, diag, run HAVING count(*) + 4 >= 12),
         |cut5 AS (SELECT DISTINCT doc_b AS doc_id,
         |    unnest(range(pos_b, pos_b + match_len)) AS pos FROM sp5),
         |tk5 AS (SELECT doc_id, unnest(range(0, len(w))) AS pos FROM wd),
         |k5 AS (SELECT t.doc_id FROM tk5 t
         |  LEFT JOIN cut5 c ON t.doc_id = c.doc_id AND t.pos = c.pos
         |  WHERE c.doc_id IS NULL),
         |kd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept
         |  FROM k5 GROUP BY doc_id),
         |g5 AS (SELECT 5 AS stage, 'substr_cut' AS gate,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(coalesce(sum(n_kept), 0) AS BIGINT) AS n_tokens FROM kd),
         |raw AS (SELECT CAST(count(*) AS BIGINT) AS raw_docs,
         |    CAST(sum(n_tok) AS BIGINT) AS raw_tokens FROM b),
         |z AS (
         |$unions
         |UNION ALL
         |SELECT * FROM g5)
         |SELECT stage, gate, n_docs, n_tokens,
         |  CAST(n_docs AS DOUBLE) / CAST(raw_docs AS DOUBLE) AS doc_retention,
         |  CAST(n_tokens AS DOUBLE) / CAST(raw_tokens AS DOUBLE) AS token_retention
         |FROM z CROSS JOIN raw ORDER BY stage""".stripMargin
    },
    // q354: per-day partials (count/sum/min/max + distinct value
    // sets) merged == direct full recompute; exact integers, match
    // flags as data, delta accounting cross-joined,
    "q354_stats_ivm" ->
      """WITH e AS (SELECT epoch_ms(ts) // 86400000 AS day,
        |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v FROM events),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM e),
        |sp AS (SELECT (d0 + d1 + 1) // 2 AS split FROM b),
        |t AS (SELECT e.*, CASE WHEN day >= split THEN 1 ELSE 0 END AS is_new
        |  FROM e, sp),
        |pd AS (SELECT day, is_new, CAST(count(*) AS BIGINT) AS c,
        |    min(v) AS mn, max(v) AS mx, CAST(sum(v) AS BIGINT) AS sm
        |  FROM t GROUP BY day, is_new),
        |mg AS (SELECT CAST(sum(c) AS BIGINT) AS m_count, min(mn) AS m_min,
        |    max(mx) AS m_max, CAST(sum(sm) AS BIGINT) AS m_sum FROM pd),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS m_ndv FROM
        |  (SELECT DISTINCT v FROM (SELECT DISTINCT day, v FROM t) u)),
        |di AS (SELECT CAST(count(*) AS BIGINT) AS d_count, min(v) AS d_min,
        |    max(v) AS d_max, CAST(sum(v) AS BIGINT) AS d_sum,
        |    CAST(count(DISTINCT v) AS BIGINT) AS d_ndv FROM e),
        |ac AS (SELECT
        |    CAST(count(DISTINCT CASE WHEN is_new = 0 THEN day END) AS BIGINT)
        |      AS n_days_prior,
        |    CAST(count(DISTINCT CASE WHEN is_new = 1 THEN day END) AS BIGINT)
        |      AS n_days_delta,
        |    CAST(coalesce(sum(CASE WHEN is_new = 1 THEN 1 END), 0) AS BIGINT)
        |      AS n_rows_delta
        |  FROM t),
        |z AS (
        |  SELECT 'count' AS stat, m_count AS merged_value, d_count AS direct_value
        |    FROM mg, di
        |  UNION ALL SELECT 'min', m_min, d_min FROM mg, di
        |  UNION ALL SELECT 'max', m_max, d_max FROM mg, di
        |  UNION ALL SELECT 'sum', m_sum, d_sum FROM mg, di
        |  UNION ALL SELECT 'ndv', m_ndv, d_ndv FROM nd, di)
        |SELECT stat, merged_value, direct_value,
        |  CASE WHEN merged_value = direct_value THEN 1 ELSE 0 END AS ivm_matches,
        |  n_days_prior, n_days_delta, n_rows_delta
        |FROM z CROSS JOIN ac ORDER BY stat""".stripMargin,
    // q355: the measured dropDuplicatesWithinWatermark protocol
    // replayed — b1/b2 admit everything (late watermarks still
    // zero-lagged; b2's dups find live state), b3 re-admits exactly
    // the ids whose stored timestamp was evicted at the end of b2
    // (stored < max(b1) − 2·delay, the probed end-of-batch eviction
    // rule); b3's original-ts dups are late-dropped or dup-dropped,
    // never emitted.  Exact integers throughout,
    "q355_stream_dedup_ttl" ->
      """WITH e AS (SELECT event_id AS id, epoch_us(ts) AS us FROM events),
        |t AS (SELECT max(us) AS tmax FROM e),
        |m AS (SELECT max(us) AS m1 FROM e WHERE id % 3 = 0),
        |em AS (
        |  SELECT id, us FROM e WHERE id % 3 = 0
        |  UNION ALL
        |  SELECT id, us FROM e WHERE id % 3 = 1
        |  UNION ALL
        |  SELECT id, tmax - (id % 3600) * 1000000 AS us
        |    FROM e, t, m WHERE id % 6 = 3 AND us < m1 - 7200000000)
        |SELECT id AS event_id, CAST(count(*) AS BIGINT) AS n_emits,
        |  CAST(sum(us) AS BIGINT) AS us_sum
        |FROM em GROUP BY id ORDER BY id""".stripMargin,
    // q356: the bloom prefilter is VALUE-INVISIBLE by construction
    // (no false negatives), so the oracle is the plain join — any
    // filter-induced row loss breaks the hash,
    "q356_bloom_join" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // q357: join reassociation is value-invisible — the oracle is the
    // plain 3-way join in any order,
    "q357_join_order_enforced" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT))
        |    AS BIGINT) AS sum_cents
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // q358: q340's designation + 8-gram semi-join hit test, then the
    // q337 rebuild over the eval slice — leaked spans redacted,
    "q358_decontam_cut" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w,
         |    CASE WHEN ${hv60Sql("'ev:' || CAST(doc_id AS VARCHAR)")} % 10 = 0
         |      THEN 1 ELSE 0 END AS ev
         |  FROM documents),
         |gr AS (SELECT doc_id, ev, unnest(range(0, len(w) - 7)) AS pos,
         |    unnest([array_to_string(w[i+1:i+8], ' ') FOR i IN range(0, len(w) - 7)]) AS gram
         |  FROM w WHERE len(w) >= 8),
         |gg AS (SELECT doc_id, ev, pos, ${hv60Sql("gram")} AS g FROM gr),
         |tr AS (SELECT DISTINCT g FROM gg WHERE ev = 0),
         |hit AS (SELECT doc_id, pos FROM gg
         |  WHERE ev = 1 AND EXISTS (SELECT 1 FROM tr WHERE tr.g = gg.g)),
         |cut AS (SELECT DISTINCT doc_id, unnest(range(pos, pos + 8)) AS p FROM hit),
         |ew AS (SELECT doc_id, w FROM w WHERE ev = 1),
         |tk AS (SELECT doc_id, unnest(range(0, len(w))) AS p,
         |    unnest(w) AS token FROM ew),
         |kept AS (SELECT t.doc_id, t.p, t.token FROM tk t
         |  LEFT JOIN cut c ON t.doc_id = c.doc_id AND t.p = c.p
         |  WHERE c.doc_id IS NULL),
         |kr AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |    array_to_string(list(token ORDER BY p), ' ') AS text_cut
         |  FROM kept GROUP BY doc_id),
         |nt AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tok FROM ew)
         |SELECT nt.doc_id, n_tok,
         |  coalesce(n_kept, 0) AS n_kept,
         |  n_tok - coalesce(n_kept, 0) AS n_cut,
         |  coalesce(text_cut, '') AS text_cut
         |FROM nt LEFT JOIN kr USING (doc_id)
         |ORDER BY nt.doc_id""".stripMargin,
    // q359: the exact global token cumsum in hash order, start-offset
    // shard assignment, one keyed rollup; one terminal divide,
    "q359_shard_plan" ->
      s"""WITH d AS (SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
         |    ${hv60Sql("'sh:' || CAST(doc_id AS VARCHAR)")} AS hv
         |  FROM documents),
         |c AS (SELECT *, CAST(sum(tok) OVER (ORDER BY hv ASC, doc_id ASC
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM d),
         |a AS (SELECT (cum - tok) // 20000 AS shard, tok FROM c)
         |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(tok) AS BIGINT) AS n_tokens,
         |  CAST(sum(tok) AS DOUBLE) / CAST(20000 AS DOUBLE) AS fill_frac
         |FROM a GROUP BY shard ORDER BY shard""".stripMargin,
    // q360: the persisted-bloom prefilter is value-invisible exactly
    // as q356's inline one — the oracle is the plain join; the store
    // lifecycle is plan-pinned in Batch28Spec,
    "q360_cbo_persisted" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(max(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS max_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // q361: the measured TTL protocol composed with the replay-staged
    // ingest — every id is written exactly once by b1/b2 (the replay
    // span finds live state), plus a second write for the mod-7
    // returners whose stored timestamp was evicted at the end of b2.
    // Eviction is INCLUSIVE at the boundary (measured in
    // StreamProgressSpec: stored + D == wm evicts): stored ts + D <=
    // max(b1) − 2·delay ⇔ id <= cut1 − 121 at D = 60 s.  The boundary
    // id cut1 − 121 is not ≡ 0 (mod 7) at any shipped SF, so the
    // re-admit set is boundary-insensitive regardless,
    "q361_stream_ingest_ttl" ->
      """WITH d AS (SELECT doc_id FROM documents),
        |mx AS (SELECT max(doc_id) AS m FROM d),
        |cc AS (SELECT ((m + 1) * 3) // 5 AS cut1, m FROM mx),
        |em AS (
        |  SELECT doc_id, 1700000000000000 + doc_id * 1000000 AS us FROM d
        |  UNION ALL
        |  SELECT doc_id, 1700000000000000 + (m + 1 + doc_id % 60) * 1000000 AS us
        |    FROM d, cc WHERE doc_id % 7 = 0 AND doc_id <= cut1 - 121)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_writes,
        |  CAST(sum(us) AS BIGINT) AS us_sum
        |FROM em GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q362: the q359 manifest re-stated per shard plus the doc-id sum
    // and literal round-trip flags — Spark computes its side from the
    // files it wrote back, so any loss breaks values AND flags,
    "q362_shard_write" ->
      s"""WITH d AS (SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
         |    ${hv60Sql("'sh:' || CAST(doc_id AS VARCHAR)")} AS hv
         |  FROM documents),
         |c AS (SELECT *, CAST(sum(tok) OVER (ORDER BY hv ASC, doc_id ASC
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM d),
         |a AS (SELECT (cum - tok) // 20000 AS shard, tok, doc_id FROM c)
         |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(tok) AS BIGINT) AS n_tokens,
         |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
         |  1 AS docs_match, 1 AS tokens_match, 1 AS ids_match
         |FROM a GROUP BY shard ORDER BY shard""".stripMargin,
    // q363: q353's six gates plus gate 6 — eval-designated docs leave
    // the corpus and surviving docs lose positions covered by the
    // 5-gram cut spans UNION the 8-gram eval hits,
    "q363_yield_v3" -> {
      val stages = Seq(
        (0, "raw", "b"), (1, "lang_en", "s1"), (2, "len_ge_50", "s2"),
        (3, "exact_dedup", "s3"), (4, "fingerprint_dedup", "s4"))
      val unions = stages.map { case (i, g, t) =>
        s"""SELECT $i AS stage, '$g' AS gate,
           |  CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(coalesce(sum(n_tok), 0) AS BIGINT) AS n_tokens FROM $t""".stripMargin }
        .mkString("\nUNION ALL\n")
      s"""WITH b AS (SELECT doc_id, lang,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         |    md5(text) AS h,
         |    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
         |  FROM documents),
         |s1 AS (SELECT * FROM b WHERE lang = 'en'),
         |s2 AS (SELECT * FROM s1 WHERE n_tok >= 50),
         |es AS (SELECT min(doc_id) AS doc_id FROM s2 GROUP BY h),
         |s3 AS (SELECT s2.* FROM s2 JOIN es USING (doc_id)),
         |fs AS (SELECT min(doc_id) AS doc_id FROM s3 GROUP BY fp),
         |s4 AS (SELECT s3.* FROM s3 JOIN fs USING (doc_id)),
         |wd AS (SELECT d.doc_id, string_split(d.text, ' ') AS w
         |  FROM documents d JOIN s4 USING (doc_id)),
         |gr5 AS (SELECT doc_id, unnest(range(0, len(w) - 4)) AS pos,
         |    unnest([array_to_string(w[i+1:i+5], ' ') FOR i IN range(0, len(w) - 4)]) AS gram
         |  FROM wd WHERE len(w) >= 5),
         |gg5 AS (SELECT doc_id, pos, ${hv60Sql("gram")} AS g FROM gr5),
         |dfc5 AS (SELECT g, CAST(count(*) AS BIGINT) AS df FROM gg5 GROUP BY g),
         |kg5 AS (SELECT gg5.doc_id, gg5.pos, gg5.g
         |  FROM gg5 JOIN dfc5 USING (g) WHERE df <= 16),
         |an5 AS (SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb,
         |    a.pos - b.pos AS diag
         |  FROM kg5 a JOIN kg5 b ON a.g = b.g AND a.doc_id < b.doc_id),
         |r5 AS (SELECT *, CASE WHEN lag(pa) OVER (PARTITION BY da, db, diag
         |    ORDER BY pa) = pa - 1 THEN 0 ELSE 1 END AS brk FROM an5),
         |ri5 AS (SELECT *, sum(brk) OVER (PARTITION BY da, db, diag ORDER BY pa
         |    ROWS UNBOUNDED PRECEDING) AS run FROM r5),
         |sp5 AS (SELECT db AS doc_b, min(pb) AS pos_b,
         |    CAST(count(*) + 4 AS BIGINT) AS match_len
         |  FROM ri5 GROUP BY da, db, diag, run HAVING count(*) + 4 >= 12),
         |cut5 AS (SELECT DISTINCT doc_b AS doc_id,
         |    unnest(range(pos_b, pos_b + match_len)) AS pos FROM sp5),
         |nc5 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_cutpos
         |  FROM cut5 GROUP BY doc_id),
         |k5 AS (SELECT wd.doc_id,
         |    CAST(len(w) AS BIGINT) - coalesce(n_cutpos, 0) AS n_kept
         |  FROM wd LEFT JOIN nc5 USING (doc_id)),
         |g5 AS (SELECT 5 AS stage, 'substr_cut' AS gate,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(coalesce(sum(n_kept), 0) AS BIGINT) AS n_tokens FROM k5
         |  WHERE n_kept >= 1),
         |ev AS (SELECT doc_id FROM documents
         |  WHERE ${hv60Sql("'ev:' || CAST(doc_id AS VARCHAR)")} % 10 = 0),
         |we AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
         |  WHERE doc_id IN (SELECT doc_id FROM ev)),
         |eg AS (SELECT DISTINCT ${hv60Sql("gram")} AS g FROM (
         |  SELECT unnest([array_to_string(w[i+1:i+8], ' ') FOR i IN range(0, len(w) - 7)]) AS gram
         |  FROM we WHERE len(w) >= 8)),
         |td AS (SELECT doc_id, w FROM wd
         |  WHERE doc_id NOT IN (SELECT doc_id FROM ev)),
         |g8 AS (SELECT doc_id, unnest(range(0, len(w) - 7)) AS pos,
         |    unnest([array_to_string(w[i+1:i+8], ' ') FOR i IN range(0, len(w) - 7)]) AS gram
         |  FROM td WHERE len(w) >= 8),
         |h8 AS (SELECT doc_id, pos FROM
         |  (SELECT doc_id, pos, ${hv60Sql("gram")} AS g FROM g8) x
         |  WHERE EXISTS (SELECT 1 FROM eg WHERE eg.g = x.g)),
         |cut6 AS (
         |  SELECT DISTINCT doc_id, pos FROM (
         |    SELECT c5.doc_id, c5.pos FROM cut5 c5
         |      JOIN td ON c5.doc_id = td.doc_id
         |    UNION ALL
         |    SELECT doc_id, unnest(range(pos, pos + 8)) AS pos FROM h8) u),
         |nc6 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_cutpos
         |  FROM cut6 GROUP BY doc_id),
         |k6 AS (SELECT td.doc_id,
         |    CAST(len(w) AS BIGINT) - coalesce(n_cutpos, 0) AS n_kept
         |  FROM td LEFT JOIN nc6 USING (doc_id)),
         |g6 AS (SELECT 6 AS stage, 'decontam' AS gate,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(coalesce(sum(n_kept), 0) AS BIGINT) AS n_tokens FROM k6
         |  WHERE n_kept >= 1),
         |raw AS (SELECT CAST(count(*) AS BIGINT) AS raw_docs,
         |    CAST(sum(n_tok) AS BIGINT) AS raw_tokens FROM b),
         |z AS (
         |$unions
         |UNION ALL
         |SELECT * FROM g5
         |UNION ALL
         |SELECT * FROM g6)
         |SELECT stage, gate, n_docs, n_tokens,
         |  CAST(n_docs AS DOUBLE) / CAST(raw_docs AS DOUBLE) AS doc_retention,
         |  CAST(n_tokens AS DOUBLE) / CAST(raw_tokens AS DOUBLE) AS token_retention
         |FROM z CROSS JOIN raw ORDER BY stage""".stripMargin
    },
    // q364: the stored histogram is the q331 build verbatim, so the
    // estimates equal q335's — the declarative ntile replay IS the
    // oracle; the store lifecycle is plan-pinned in Batch28Spec,
    "q364_hist_persisted" ->
      """WITH c AS (SELECT l_orderkey, l_linenumber,
        |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS v
        |  FROM lineitem),
        |t AS (SELECT v, CAST(ntile(16) OVER
        |    (ORDER BY v, l_orderkey, l_linenumber) AS INTEGER) AS bucket
        |  FROM c),
        |h AS (SELECT bucket, min(v) AS lo_cents, max(v) AS hi_cents,
        |    CAST(count(*) AS BIGINT) AS n_rows
        |  FROM t GROUP BY bucket),
        |p AS (SELECT * FROM (VALUES
        |    (CAST(1 AS BIGINT), CAST(100000 AS BIGINT), CAST(1000000 AS BIGINT)),
        |    (2, 0, 20000000), (3, 4000000, 6000000), (4, 9000000, 10500000),
        |    (5, 1, 50000), (6, 2500000, 2500099)) AS vv(pred_id, p_lo, p_hi)),
        |ctr AS (SELECT p.pred_id, p.p_lo, p.p_hi, h.bucket,
        |    CAST(greatest(0, least(hi_cents, p_hi) - greatest(lo_cents, p_lo)
        |        + 1) AS DOUBLE)
        |      / CAST(hi_cents - lo_cents + 1 AS DOUBLE)
        |      * CAST(n_rows AS DOUBLE) AS c
        |  FROM h CROSS JOIN p),
        |e AS (SELECT pred_id, p_lo, p_hi,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(c ORDER BY bucket)), (a, b) -> a + b) AS est_rows
        |  FROM ctr GROUP BY pred_id, p_lo, p_hi),
        |a AS (SELECT pred_id, CAST(count(*) AS BIGINT) AS actual_rows
        |  FROM c JOIN p ON v >= p_lo AND v <= p_hi GROUP BY pred_id)
        |SELECT e.pred_id, p_lo AS lo_cents, p_hi AS hi_cents, est_rows,
        |  coalesce(actual_rows, 0) AS actual_rows,
        |  abs(est_rows - CAST(coalesce(actual_rows, 0) AS DOUBLE)) AS abs_err
        |FROM e LEFT JOIN a USING (pred_id)
        |ORDER BY e.pred_id""".stripMargin,
    // q365: kept = NOT forget through the FK chain; kept + cascade
    // must rebuild the pre-deletion books exactly — counts in exact
    // BIGINTs, revenue in exact DECIMAL(18,4) before the terminal
    // cast; output rows keyed by nations with >= 1 kept customer
    // (mirrors the Spark kept-side rollup base),
    "q365_erasure_exec" -> {
      def roll(tag: String, filt: String) =
        s"""roll_$tag AS (SELECT c_nationkey,
           |    CAST(count(DISTINCT o_orderkey) AS BIGINT) AS ${tag}_orders,
           |    CAST(count(l_orderkey) AS BIGINT) AS ${tag}_lines,
           |    coalesce(sum(rev), CAST(0 AS DECIMAL(18,4))) AS ${tag}_rev
           |  FROM cu JOIN orders ON c_custkey = o_custkey
           |  LEFT JOIN li ON o_orderkey = l_orderkey
           |  $filt GROUP BY 1)""".stripMargin
      s"""WITH cu AS (SELECT c_custkey, c_nationkey,
         |    (${hv60Sql("'forget:' || CAST(c_custkey AS VARCHAR)")} % 20 = 0)
         |      AS forget
         |  FROM customer),
         |li AS (SELECT l_orderkey,
         |    CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)) AS rev
         |  FROM lineitem),
         |${roll("k", "WHERE NOT forget")},
         |${roll("t", "")},
         |${roll("g", "WHERE forget")},
         |ck AS (SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust_kept
         |  FROM cu WHERE NOT forget GROUP BY 1),
         |cg AS (SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust_gone
         |  FROM cu WHERE forget GROUP BY 1),
         |ct AS (SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust_total
         |  FROM cu GROUP BY 1)
         |SELECT n_name AS nation, n_cust_kept,
         |  coalesce(k_orders, 0) AS n_orders_kept,
         |  coalesce(k_lines, 0) AS n_lines_kept,
         |  CAST(coalesce(k_rev, CAST(0 AS DECIMAL(18,4))) AS DOUBLE)
         |    AS revenue_kept,
         |  CASE WHEN n_cust_kept + coalesce(n_cust_gone, 0) = n_cust_total
         |    THEN 1 ELSE 0 END AS cust_match,
         |  CASE WHEN coalesce(k_orders, 0) + coalesce(g_orders, 0)
         |      = coalesce(t_orders, 0) THEN 1 ELSE 0 END AS orders_match,
         |  CASE WHEN coalesce(k_lines, 0) + coalesce(g_lines, 0)
         |      = coalesce(t_lines, 0) THEN 1 ELSE 0 END AS lines_match,
         |  CASE WHEN coalesce(k_rev, CAST(0 AS DECIMAL(18,4)))
         |      + coalesce(g_rev, CAST(0 AS DECIMAL(18,4)))
         |      = coalesce(t_rev, CAST(0 AS DECIMAL(18,4)))
         |    THEN 1 ELSE 0 END AS revenue_match
         |FROM ck
         |LEFT JOIN cg USING (c_nationkey)
         |JOIN ct USING (c_nationkey)
         |LEFT JOIN roll_k USING (c_nationkey)
         |LEFT JOIN roll_g USING (c_nationkey)
         |LEFT JOIN roll_t USING (c_nationkey)
         |JOIN nation ON c_nationkey = n_nationkey
         |ORDER BY nation""".stripMargin
    },
    // q366: the runtime-pruned partitioned read replayed from the
    // original table — dim = days whose quantized total lands in the
    // low residues mod 7 (the data-dependent predicate static pruning
    // cannot express).  The residue is sign-proofed — ((u%7)+7)%7
    // equals Spark's pmod for ALL inputs, so equivalence no longer
    // rests on the fixture's totals happening to be non-negative —
    // join on day, per-type rollup; any misfiled or unpruned row
    // breaks counts AND unit sums,
    "q366_dpp_prune" ->
      """WITH dim AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST(floor(value * 1.0e6 + 0.5) AS BIGINT)) AS BIGINT) AS units
        |  FROM events GROUP BY day),
        |sel AS (SELECT day FROM dim WHERE ((units % 7) + 7) % 7 < 3),
        |e AS (SELECT CAST(ts AS DATE) AS day, event_type, value FROM events)
        |SELECT event_type, count(*) AS n_events,
        |  count(DISTINCT e.day) AS n_days,
        |  CAST(sum(CAST(floor(value * 1.0e6 + 0.5) AS BIGINT)) AS BIGINT) AS value_units
        |FROM e JOIN sel ON e.day = sel.day
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q367: count-of-counts collision pairs — unordered, self-pairs
    // included (k·(k+1)/2 per multiplicity), pure integer arithmetic,
    "q367_exchange_reuse" ->
      """WITH t AS (SELECT l_partkey, count(*) AS n_lines FROM lineitem
        |  GROUP BY l_partkey),
        |h AS (SELECT n_lines, count(*) AS n_parts FROM t GROUP BY n_lines)
        |SELECT a.n_parts, count(*) AS n_pairs
        |FROM h a JOIN h b ON a.n_parts = b.n_parts AND a.n_lines <= b.n_lines
        |GROUP BY a.n_parts ORDER BY a.n_parts""".stripMargin,
    // q368: the MV-rewritten monthly rollup recomputed from the BASE
    // table — per-row revenue quantized to DECIMAL(18,4) (the q01
    // money rule) so the daily-partial path and this direct path sum
    // to bit-identical decimals before the one final DOUBLE cast;
    // value identity here IS the rewrite's correctness gate,
    "q368_mv_rewrite" ->
      """SELECT substr(CAST(l_shipdate AS VARCHAR), 1, 7) AS ship_month,
        |  l_returnflag,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)))
        |    AS DOUBLE) AS mv_revenue,
        |  count(*) AS n_lines
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q369: degree-capped Adamic-Adar — wedges from the undirected
    // LSH adjacency (cap replayed), each score folded in neighbor-id
    // order (1/ln(deg) per term), is_edge separating prediction rows
    // from embeddedness rows, top-20 with full tiebreak,
    "q369_adamic_adar" ->
      s"""WITH $minhashPairsCte,
         |adj AS (SELECT doc_a AS z, doc_b AS nb FROM mh_pairs
         |  UNION ALL SELECT doc_b AS z, doc_a AS nb FROM mh_pairs),
         |deg AS (SELECT z, count(*) AS deg FROM adj GROUP BY z),
         |ca AS (SELECT adj.z, adj.nb, deg.deg FROM adj JOIN deg USING (z)
         |  WHERE deg <= 64),
         |s AS (SELECT a.nb AS x, b.nb AS y, count(*) AS n_common,
         |    list_reduce(list_prepend(0.0,
         |      list(1.0 / ln(CAST(a.deg AS DOUBLE)) ORDER BY a.z)),
         |      (p, q) -> p + q) AS aa_score
         |  FROM ca a JOIN ca b ON a.z = b.z AND a.nb < b.nb
         |  GROUP BY a.nb, b.nb)
         |SELECT x AS doc_a, y AS doc_b, n_common, aa_score,
         |  CASE WHEN EXISTS (SELECT 1 FROM mh_pairs p
         |    WHERE p.doc_a = s.x AND p.doc_b = s.y) THEN 1 ELSE 0 END AS is_edge
         |FROM s ORDER BY aa_score DESC, doc_a ASC, doc_b ASC LIMIT 20""".stripMargin,
    // q370: the signed-multiplicity delta (final-day inserts + every
    // 17th prior event as a retraction) applied to the maintained
    // per-type count/sum, pinned equal to the from-scratch recompute
    // — all exact integers,
    "q370_retract_ivm" ->
      """WITH e AS (SELECT event_id, epoch_ms(ts) // 86400000 AS day, event_type,
        |    CAST(floor(value * 1.0e6 + 0.5) AS BIGINT) AS units FROM events),
        |mx AS (SELECT max(day) AS d1 FROM e),
        |prior AS (SELECT e.* FROM e, mx WHERE day < d1),
        |ins AS (SELECT e.* FROM e, mx WHERE day = d1),
        |del AS (SELECT * FROM prior WHERE event_id % 17 = 0),
        |base AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n0,
        |    CAST(sum(units) AS BIGINT) AS u0 FROM prior GROUP BY event_type),
        |delta AS (SELECT event_type, 1 AS mult, units FROM ins
        |  UNION ALL SELECT event_type, -1 AS mult, units FROM del),
        |da AS (SELECT event_type, CAST(sum(mult) AS BIGINT) AS dn,
        |    CAST(sum(mult * units) AS BIGINT) AS du,
        |    CAST(sum(CASE WHEN mult = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_ins,
        |    CAST(sum(CASE WHEN mult = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_del
        |  FROM delta GROUP BY event_type),
        |m AS (SELECT event_type,
        |    coalesce(n_ins, 0) AS n_inserts, coalesce(n_del, 0) AS n_deletes,
        |    coalesce(n0, 0) + coalesce(dn, 0) AS merged_count,
        |    coalesce(u0, 0) + coalesce(du, 0) AS merged_units
        |  FROM base FULL OUTER JOIN da USING (event_type)),
        |dir AS (SELECT event_type, CAST(count(*) AS BIGINT) AS direct_count,
        |    CAST(sum(units) AS BIGINT) AS direct_units
        |  FROM e, mx WHERE day = d1 OR (day < d1 AND event_id % 17 <> 0)
        |  GROUP BY event_type)
        |SELECT event_type,
        |  n_inserts, n_deletes, merged_count,
        |  coalesce(direct_count, 0) AS direct_count,
        |  CASE WHEN merged_count = coalesce(direct_count, 0) THEN 1 ELSE 0 END
        |    AS count_match,
        |  merged_units, coalesce(direct_units, 0) AS direct_units,
        |  CASE WHEN merged_units = coalesce(direct_units, 0) THEN 1 ELSE 0 END
        |    AS units_match
        |FROM m FULL OUTER JOIN dir USING (event_type)
        |ORDER BY event_type""".stripMargin,
    // q371: nearest click per purchase stated declaratively — the
    // LATERAL min-by replays the window form's exact tie rule
    // (distance, then earlier side via c.us, then smaller id); all
    // comparisons in integer epoch-micros,
    "q371_asof_nearest" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us, event_type
        |  FROM events WHERE event_type IN ('purchase', 'click')),
        |p AS (SELECT * FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT * FROM e WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, l.click_id, l.delta_us,
        |  coalesce(l.direction, 'none') AS direction
        |FROM p LEFT JOIN LATERAL (
        |  SELECT c.event_id AS click_id, abs(c.us - p.us) AS delta_us,
        |    CASE WHEN c.us <= p.us THEN 'prev' ELSE 'next' END AS direction
        |  FROM c WHERE c.user_id = p.user_id
        |    AND abs(c.us - p.us) <= 300000000
        |  ORDER BY abs(c.us - p.us) ASC, c.us ASC, c.event_id ASC
        |  LIMIT 1) l ON true
        |ORDER BY p.event_id""".stripMargin,
    // q372: the stream-maintained MV equals the batch MV — the oracle
    // recomputes the monthly rollup from lineitem (the q368 DECIMAL
    // path) for BOTH sides and states the flags; Spark builds both
    // sides genuinely, so a lost epoch breaks values and flags,
    "q372_stream_mv" ->
      """SELECT substr(CAST(l_shipdate AS VARCHAR), 1, 7) AS ship_month,
        |  l_returnflag,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)))
        |    AS DOUBLE) AS stream_rev,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)))
        |    AS DOUBLE) AS batch_rev,
        |  1 AS rev_match,
        |  count(*) AS stream_lines, count(*) AS batch_lines, 1 AS lines_match
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q373: the coordinated-sampling identity and its estimator —
    // hash-of-key membership replayed via hv60, sample⋈sample vs
    // filter-after-join stated per priority, scale-up vs truth,
    "q373_consistent_sample" -> {
      val keepO = s"${hv60Sql("'cs:' || CAST(o_orderkey AS VARCHAR)")} % 100 < 10"
      val keepL = s"${hv60Sql("'cs:' || CAST(l_orderkey AS VARCHAR)")} % 100 < 10"
      s"""WITH os AS (SELECT o_orderkey, o_orderpriority FROM orders
         |  WHERE $keepO),
         |ls AS (SELECT l_orderkey FROM lineitem WHERE $keepL),
         |sj AS (SELECT o_orderpriority,
         |    count(DISTINCT o_orderkey) AS n_orders_s,
         |    count(*) AS n_lines_s
         |  FROM os JOIN ls ON o_orderkey = l_orderkey
         |  GROUP BY o_orderpriority),
         |full_j AS (SELECT o_orderkey, o_orderpriority FROM orders
         |  JOIN lineitem ON o_orderkey = l_orderkey),
         |js AS (SELECT o_orderpriority, count(*) AS n_lines_js FROM full_j
         |  WHERE $keepO GROUP BY o_orderpriority),
         |tr AS (SELECT o_orderpriority, count(*) AS true_lines FROM full_j
         |  GROUP BY o_orderpriority)
         |SELECT o_orderpriority, n_orders_s, n_lines_s,
         |  CASE WHEN n_lines_s = n_lines_js THEN 1 ELSE 0 END
         |    AS consistency_match,
         |  CAST(n_lines_s * 10 AS BIGINT) AS est_lines, true_lines,
         |  abs(CAST(n_lines_s * 10 AS DOUBLE) - CAST(true_lines AS DOUBLE))
         |    AS abs_err
         |FROM sj JOIN js USING (o_orderpriority)
         |JOIN tr USING (o_orderpriority)
         |ORDER BY o_orderpriority""".stripMargin
    },
    // q374: per CC cluster the highest-quality representative (q31's
    // exact IEEE quality sequence ranks identically in both engines;
    // ties to the smaller doc id) plus the kept/dropped token books,
    "q374_cluster_rep" ->
      s"""WITH RECURSIVE $closureCte,
         |q AS (SELECT doc_id,
         |    $qualitySql AS quality,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
         |  FROM documents),
         |j AS (SELECT cc_labels.doc_id, cluster_id, quality, tok
         |  FROM cc_labels JOIN q USING (doc_id)),
         |rn AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
         |    ORDER BY quality DESC, doc_id ASC) AS rk FROM j),
         |acct AS (SELECT cluster_id, count(*) AS n_docs,
         |    CAST(sum(tok) AS BIGINT) AS total_tokens FROM j
         |  GROUP BY cluster_id)
         |SELECT rn.cluster_id, n_docs, rn.doc_id AS rep_doc_id,
         |  rn.quality AS rep_quality, rn.tok AS rep_tokens,
         |  total_tokens - rn.tok AS dropped_tokens
         |FROM rn JOIN acct USING (cluster_id) WHERE rk = 1
         |ORDER BY rn.cluster_id""".stripMargin,
    // q375: the Z-set product rule replayed — three signed delta
    // terms (ΔO⋈L, O⋈ΔL, +ΔO⋈ΔL) applied to the old join aggregate,
    // pinned equal to the kept-tables recompute; all exact integers,
    "q375_join_retract_ivm" ->
      """WITH o AS (SELECT o_orderkey, o_orderpriority FROM orders),
        |l AS (SELECT l_orderkey,
        |    CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT) AS units
        |  FROM lineitem),
        |od AS (SELECT * FROM o WHERE o_orderkey % 31 = 0),
        |ld AS (SELECT * FROM l WHERE l_orderkey % 31 = 0),
        |j0 AS (SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n0,
        |    CAST(sum(units) AS BIGINT) AS u0
        |  FROM o JOIN l ON o_orderkey = l_orderkey GROUP BY 1),
        |delta AS (
        |  SELECT o_orderpriority, -1 AS mult, units FROM od
        |    JOIN l ON o_orderkey = l_orderkey
        |  UNION ALL SELECT o_orderpriority, -1, units FROM o
        |    JOIN ld ON o_orderkey = l_orderkey
        |  UNION ALL SELECT o_orderpriority, 1, units FROM od
        |    JOIN ld ON o_orderkey = l_orderkey),
        |da AS (SELECT o_orderpriority, CAST(sum(mult) AS BIGINT) AS dn,
        |    CAST(sum(mult * units) AS BIGINT) AS du,
        |    CAST(sum(CASE WHEN mult = -1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_retract_terms
        |  FROM delta GROUP BY 1),
        |m AS (SELECT o_orderpriority,
        |    coalesce(n_retract_terms, 0) AS n_retract_terms,
        |    coalesce(n0, 0) + coalesce(dn, 0) AS merged_lines,
        |    coalesce(u0, 0) + coalesce(du, 0) AS merged_units
        |  FROM j0 FULL OUTER JOIN da USING (o_orderpriority)),
        |dir AS (SELECT o_orderpriority,
        |    CAST(count(*) AS BIGINT) AS direct_lines,
        |    CAST(sum(units) AS BIGINT) AS direct_units
        |  FROM o JOIN l ON o_orderkey = l_orderkey
        |  WHERE o_orderkey % 31 <> 0 AND l_orderkey % 31 <> 0 GROUP BY 1)
        |SELECT o_orderpriority, n_retract_terms, merged_lines,
        |  coalesce(direct_lines, 0) AS direct_lines,
        |  CASE WHEN merged_lines = coalesce(direct_lines, 0) THEN 1 ELSE 0 END
        |    AS lines_match,
        |  merged_units, coalesce(direct_units, 0) AS direct_units,
        |  CASE WHEN merged_units = coalesce(direct_units, 0) THEN 1 ELSE 0 END
        |    AS units_match
        |FROM m FULL OUTER JOIN dir USING (o_orderpriority)
        |ORDER BY o_orderpriority""".stripMargin,
    // q376: the pivot stated as 5 conditional sums + the day count;
    // a day missing a type is 0 in both engines,
    "q376_pivot" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
        |  count(*) AS n_events,
        |  coalesce(CAST(sum(CASE WHEN event_type = 'click'
        |    THEN CAST(floor(value * 1.0e6 + 0.5) AS BIGINT) END) AS BIGINT), 0)
        |    AS click_units,
        |  coalesce(CAST(sum(CASE WHEN event_type = 'error'
        |    THEN CAST(floor(value * 1.0e6 + 0.5) AS BIGINT) END) AS BIGINT), 0)
        |    AS error_units,
        |  coalesce(CAST(sum(CASE WHEN event_type = 'purchase'
        |    THEN CAST(floor(value * 1.0e6 + 0.5) AS BIGINT) END) AS BIGINT), 0)
        |    AS purchase_units,
        |  coalesce(CAST(sum(CASE WHEN event_type = 'signup'
        |    THEN CAST(floor(value * 1.0e6 + 0.5) AS BIGINT) END) AS BIGINT), 0)
        |    AS signup_units,
        |  coalesce(CAST(sum(CASE WHEN event_type = 'view'
        |    THEN CAST(floor(value * 1.0e6 + 0.5) AS BIGINT) END) AS BIGINT), 0)
        |    AS view_units
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // q377: the op log folded declaratively — last op per key wins,
    // delete = absent (a delete then later upsert re-inserts); the
    // Spark side reads its genuinely stream-maintained final state,
    "q377_stream_cdc" ->
      """WITH b1 AS (SELECT doc_id, 'upsert' AS op, text AS new_text,
        |    1 AS v, 1 AS bno FROM documents WHERE doc_id < 300),
        |b2 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN 'delete' ELSE 'upsert' END AS op,
        |    text || ' v2' AS new_text, 2 AS v, 2 AS bno
        |  FROM documents WHERE doc_id >= 100 AND doc_id < 400),
        |b3 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN 'delete' ELSE 'upsert' END AS op,
        |    text || ' v3' AS new_text, 3 AS v, 3 AS bno
        |  FROM documents WHERE doc_id >= 200 AND doc_id < 500),
        |ops AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2
        |  UNION ALL SELECT * FROM b3),
        |lastop AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY bno DESC) AS rk FROM ops)
        |SELECT doc_id, CAST(v AS BIGINT) AS version,
        |  CAST(length(new_text) AS BIGINT) AS n_chars
        |FROM lastop WHERE rk = 1 AND op = 'upsert'
        |ORDER BY doc_id""".stripMargin,
    // q378: the filter-COMPENSATED MV rewrite recomputed directly from
    // the base table — the q368 DECIMAL(18,4) discipline with the
    // consumer's compound grouping-column slice as a plain WHERE; the
    // Spark side answers this from the daily-partial MV artifact with
    // the predicate compensated onto the rollup, so value identity
    // here gates the compensation's commutation argument itself,
    "q378_mv_filter_comp" ->
      """SELECT substr(CAST(l_shipdate AS VARCHAR), 1, 7) AS ship_month,
        |  l_returnflag,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)))
        |    AS DOUBLE) AS mv_revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |WHERE substr(CAST(l_shipdate AS VARCHAR), 1, 7)
        |    BETWEEN '1994-01' AND '1996-12'
        |  AND l_returnflag <> 'N'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q379: the dimension-dropped (flag-only) sliced total recomputed
    // from the base table — the Spark side answers it from the daily
    // MV with the month dimension summed out and the slice
    // compensated; same DECIMAL(18,4) exactness argument as q368,
    "q379_mv_dim_drop" ->
      """SELECT l_returnflag,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)))
        |    AS DOUBLE) AS rf_revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |WHERE l_returnflag <> 'N'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q380: the stream-served MV chain recomputed directly from the
    // base table (the q368 SQL verbatim) — the Spark side stages
    // lineitem through the three-epoch maintenance stream, merges the
    // epoch partials into the artifact, and answers this rollup from
    // it, so value identity gates staging + per-epoch exactly-once
    // publish + merge + rewrite end to end,
    "q380_mv_serve" ->
      """SELECT substr(CAST(l_shipdate AS VARCHAR), 1, 7) AS ship_month,
        |  l_returnflag,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)))
        |    AS DOUBLE) AS mv_revenue,
        |  count(*) AS n_lines
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )
}
