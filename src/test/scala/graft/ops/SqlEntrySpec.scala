package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** sql_entry_topk — the pure-SQL-string entry point: the registered
  * graft_cosine resolves, TopKRewriteRule fires on the SQL window
  * top-k (plan has the aggregate, no Window), the child session keeps
  * the rule/view out of the caller's session, and the results equal
  * the DataFrame-API brute-force top-k bit for bit.
  */
class SqlEntrySpec extends SparkSpec {

  private def sqlDf = graft.SparkEntry.queries("sql_entry_topk")(spark, sf)

  test("TopKRewriteRule fires: aggregate form, no Window in the plan") {
    val plan = sqlDf.queryExecution.optimizedPlan.toString
    assert(plan.contains("graft_topk_rows"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("rule/view stay in the child session (no caller pollution)") {
    sqlDf.queryExecution.optimizedPlan // forces child-session analysis
    assert(spark.experimental.extraOptimizations.isEmpty ||
      !spark.experimental.extraOptimizations
        .contains(org.apache.spark.sql.graft.TopKRewriteRule))
    assert(!spark.catalog.tableExists("graft_embeddings"))
  }

  test("SQL text ≡ DataFrame-API brute force, bit for bit") {
    val viaSql = sqlDf.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val viaApi = graft.SparkEntry.queries("sim_cosine_topk")(spark, sf)
      .collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(viaSql.nonEmpty)
    assert(viaSql.sameElements(viaApi))
  }

  // ------------------------------------------------------------------
  // The SQL-ENTRY MATRIX (r9 verdict item 6): one representative query
  // per §2.B category, written as PURE spark.sql TEXT in a child
  // session with the graft extensions registered, asserted
  // row-identical (exact, doubles bitwise — same kernels both sides)
  // against the inventory's DataFrame form. This is what a production
  // user typing SQL at the engine actually exercises: view resolution,
  // the function registry (graft_* kernels from SQL text), and plan
  // parity with the API forms.
  //
  // NOT SQL-expressible, by design (the documented boundary):
  //  - the multimodal codecs (`mm_decode_*`, `mm_batch_embed`) are
  //    partition-batched mapPartitions seams — a codec is not an
  //    expression;
  //  - the persisted-index lifecycle verbs (build/append/compact/
  //    stream) are commit-protocol PROCEDURES, reached from SQL
  //    through their read side (probe views), not as SELECTs;
  //  - NearestCells / PqEncode bind TRAINED ARTIFACTS (centroid and
  //    codebook arrays) as plan objects — no sane SQL literal form;
  //    the SQL route to IVF/PQ is the persisted index (see
  //    the note on Native.functions).
  // ------------------------------------------------------------------

  private lazy val sqlSess: org.apache.spark.sql.SparkSession = {
    val s = spark.newSession()
    org.apache.spark.sql.graft.Native.install(s)
    org.apache.spark.sql.graft.TopKRewrite.enable(s)
    graft.sources.Tables.lineitem(s, sf).createOrReplaceTempView("lineitem")
    graft.sources.Tables.orders(s, sf).createOrReplaceTempView("orders")
    graft.sources.Tables.customer(s, sf).createOrReplaceTempView("customer")
    graft.sources.Tables.nation(s, sf).createOrReplaceTempView("nation")
    graft.sources.Tables.events(s, sf).createOrReplaceTempView("events")
    graft.sources.Tables.documents(s, sf)
      .createOrReplaceTempView("documents")
    CdcQueries.flatFeed(s, sf).createOrReplaceTempView("feed")
    TextQueries.plantedDocs(s, sf).createOrReplaceTempView("planted_docs")
    SimilarityQueries.doubleVecs(s, sf)
      .createOrReplaceTempView("graft_vecs")
    s
  }

  /** (inventory query, equivalent Spark SQL text over the views). */
  private val matrix: Seq[(String, String)] = Seq(

    // scans/sources
    "scan_parquet" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate >= '2000-01-01' AND l_quantity < 10
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // projection/filter
    "include_list_filter" ->
      """SELECT user_id, count(1) AS n_events
        |FROM events WHERE user_id IN (1, 2, 3, 5, 8)
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    // joins (with the broadcast hint a SQL user writes)
    "join_broadcast" ->
      """SELECT /*+ BROADCAST(customer), BROADCAST(nation) */
        |  n_name, count(1) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    // aggregations
    "agg_groupby" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_base_price,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    / count(1) AS avg_qty,
        |  count(1) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    // windows
    "win_rank" ->
      """SELECT c_custkey, c_nationkey, c_acctbal,
        |  rank() OVER (PARTITION BY c_nationkey
        |               ORDER BY c_acctbal DESC, c_custkey) AS bal_rank
        |FROM customer
        |ORDER BY c_nationkey, bal_rank, c_custkey""".stripMargin,

    // set ops
    "set_union" ->
      """SELECT o_custkey FROM orders WHERE o_orderdate < '1996-01-01'
        |UNION
        |SELECT o_custkey FROM orders WHERE o_orderdate >= '2000-01-01'
        |ORDER BY o_custkey""".stripMargin,

    // string/date/math/json functions
    "fn_json" ->
      """SELECT event_id,
        |  get_json_object(props, '$.k') AS k_str,
        |  CAST(get_json_object(props, '$.k') AS INT) AS k_int
        |FROM events ORDER BY event_id""".stripMargin,

    // CDC materialization (the flagship latest-wins semantics)
    "cdc_latest_state" ->
      """WITH ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY key
        |            ORDER BY ts_us DESC, event_id DESC) AS rn
        |  FROM feed)
        |SELECT key, event_id AS last_event_id, op, ts_us, value
        |FROM ranked WHERE rn = 1 AND op <> 'd'
        |ORDER BY key""".stripMargin,

    // north-star dedup (md5 content digest — the exact-dedup kernel)
    "dedup_exact" ->
      """SELECT min(doc_id) AS rep_id, count(1) AS n_copies
        |FROM planted_docs GROUP BY md5(text)
        |ORDER BY rep_id""".stripMargin,

    // north-star text analysis (pure built-ins)
    "text_histogram" ->
      """SELECT CAST(floor(length(text) / 200) * 200 AS BIGINT)
        |    AS len_bucket, count(1) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY len_bucket""".stripMargin,

    // north-star text analysis (tokenizers from SQL text)
    "text_tokens" ->
      """SELECT doc_id,
        |  CAST(size(split(text, ' ')) AS BIGINT) AS n_ws_tokens,
        |  CAST(size(regexp_extract_all(lower(text),
        |    '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS BIGINT) AS n_subword,
        |  CAST(length(text) AS BIGINT) AS n_chars_text
        |FROM documents ORDER BY doc_id""".stripMargin,

    // north-star text analysis via a REGISTERED graft kernel: the
    // document fingerprint's min-shingle digest resolving from text
    "text_fingerprint" ->
      """SELECT doc_id, md5(text) AS fp_full,
        |  graft_min_shingle_md5(split(text, ' ')) AS fp_minshingle
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the custom TypedImperativeAggregate from SQL text: graft_topk's
    // partial-combinable per-group heap instead of a window sort
    "top_k_agg" ->
      """WITH agg AS (
        |  SELECT o_orderpriority,
        |         graft_topk(o_totalprice, o_orderkey, 3) AS tk
        |  FROM orders GROUP BY o_orderpriority)
        |SELECT o_orderpriority, CAST(pos + 1 AS INT) AS rn,
        |       col.id AS o_orderkey, col.v AS o_totalprice
        |FROM agg LATERAL VIEW posexplode(tk) t AS pos, col
        |ORDER BY o_orderpriority, rn""".stripMargin,

    // vector hygiene pass: graft_dot from SQL text for the norm
    "fn_vector" ->
      """SELECT vec_id,
        |  round(sqrt(graft_dot(embedding, embedding)), 6) AS l2_norm,
        |  round(array_max(embedding), 6) AS max_c,
        |  round(array_min(embedding), 6) AS min_c,
        |  round(array_max(embedding)
        |    / sqrt(graft_dot(embedding, embedding)), 6)
        |    AS max_c_normalized,
        |  size(embedding) AS dim
        |FROM graft_vecs ORDER BY vec_id""".stripMargin,

    // north-star similarity: the int8-quantized search written as SQL
    // over the REGISTERED graft kernels (graft_quantize_i8 +
    // graft_dot_i8 resolving from text — the function-registry proof
    // beyond sql_entry_topk's graft_cosine)
    "sim_quantized_topk" ->
      """WITH coded AS (
        |  SELECT vec_id, graft_quantize_i8(embedding) AS v
        |  FROM graft_vecs),
        | normed AS (
        |  SELECT vec_id, v,
        |    sqrt(CAST(graft_dot_i8(v, v) AS DOUBLE)) AS nrm
        |  FROM coded),
        | q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn
        |       FROM normed WHERE vec_id < 8 AND nrm > 0),
        | c AS (SELECT vec_id AS cand_id, v AS cv, nrm AS cn
        |       FROM normed WHERE nrm > 0),
        | sc AS (
        |  SELECT query_id, cand_id,
        |    CAST(graft_dot_i8(qv, cv) AS DOUBLE) / (qn * cn) AS cos
        |  FROM q JOIN c ON query_id <> cand_id),
        | r AS (
        |  SELECT query_id, cand_id, cos, row_number() OVER (
        |    PARTITION BY query_id
        |    ORDER BY round(cos, 6) DESC, cand_id) AS rank
        |  FROM sc)
        |SELECT query_id, rank, cand_id, round(cos, 4) AS cosine
        |FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    // ---- r14 (VERDICT r13 item 6): the corpus-statistics pack and
    // the countmin sketch, keeping SQL-text parity with the r11c–r13
    // additions wherever the query is SQL-expressible ----

    // TF-IDF: same two corpus passes; the corpus size N arrives via a
    // single-row cross join instead of the API form's driver count()
    "text_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, explode(split(text, ' ')) AS tok
        |  FROM documents),
        | tf AS (
        |  SELECT doc_id, tok, count(1) AS tf
        |  FROM toks GROUP BY doc_id, tok),
        | df AS (SELECT tok, count(1) AS df FROM tf GROUP BY tok),
        | n AS (SELECT count(1) AS n FROM documents),
        | sc AS (
        |  SELECT /*+ BROADCAST(df) */ doc_id, tok,
        |    round(CAST(tf AS DOUBLE) *
        |          ln((n + 1.0D) / (CAST(df AS DOUBLE) + 1.0D)), 6)
        |      AS tfidf_r
        |  FROM tf JOIN df USING (tok) CROSS JOIN n),
        | r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY tfidf_r DESC, tok) AS rk
        |  FROM sc)
        |SELECT doc_id, tok, tfidf_r, rk FROM r WHERE rk <= 3
        |ORDER BY doc_id, rk""".stripMargin,

    // bigram-LM surprisal: lag window + add-½ smoothing from SQL text;
    // vocabulary size via cross join (API form: driver countDistinct)
    "text_bigram_lm" ->
      """WITH toks AS (
        |  SELECT doc_id, pos, tok FROM documents
        |  LATERAL VIEW posexplode(split(text, ' ')) t AS pos, tok),
        | bi AS (
        |  SELECT doc_id, prev, tok FROM (
        |    SELECT doc_id, tok, lag(tok, 1) OVER (
        |      PARTITION BY doc_id ORDER BY pos) AS prev
        |    FROM toks)
        |  WHERE prev IS NOT NULL),
        | v AS (SELECT count(DISTINCT tok) AS vn FROM toks),
        | bc AS (
        |  SELECT prev, tok, count(1) AS cnt_uv
        |  FROM bi GROUP BY prev, tok),
        | cc AS (SELECT prev, sum(cnt_uv) AS cnt_u FROM bc GROUP BY prev),
        | model AS (
        |  SELECT prev, tok,
        |    CAST(round(-ln(CAST(cnt_uv * 2 + 1 AS DOUBLE) /
        |                   CAST(cnt_u * 2 + vn AS DOUBLE)), 6)
        |         AS DECIMAL(18,6)) AS surprisal
        |  FROM bc JOIN cc USING (prev) CROSS JOIN v)
        |SELECT doc_id,
        |  CAST(sum(surprisal) AS DOUBLE) / count(1)
        |    AS mean_bigram_surprisal,
        |  count(1) AS n_bigrams
        |FROM bi JOIN model USING (prev, tok)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // count-min from SQL text: graft_countmin resolves from the
    // registry as an aggregate; the probe re-derives each row's cell
    // with the same (a·x + b) mod p mod w arithmetic the kernel uses
    "agg_countmin" ->
      """WITH sk AS (
        |  SELECT graft_countmin(user_id, 4, 256) AS counters
        |  FROM events),
        | top AS (
        |  SELECT user_id, count(1) AS exact_cnt FROM events
        |  GROUP BY user_id ORDER BY exact_cnt DESC, user_id LIMIT 20),
        | p AS (
        |  SELECT * FROM VALUES (0, 131071L, 12345L), (1, 524287L, 67890L),
        |    (2, 8191L, 424242L), (3, 6700417L, 987654L) AS p(i, a, b))
        |SELECT user_id, exact_cnt,
        |  min(element_at(counters, CAST(i * 256 +
        |    ((user_id % 2147483647) * a + b) % 2147483647 % 256 + 1
        |    AS INT))) AS est_cnt
        |FROM top CROSS JOIN sk CROSS JOIN p
        |GROUP BY user_id, exact_cnt
        |ORDER BY exact_cnt DESC, user_id""".stripMargin,

    // deterministic A-ExpJ weighted sample: pure built-ins, the SQL a
    // mixture-builder would actually type
    "sample_weighted" ->
      """SELECT doc_id, n_chars AS weight,
        |  round(-ln((((doc_id % 1000003L) * 2654435761L) % 1000003L
        |             + 1L) / 1000004.0D)
        |        / CAST(n_chars AS DOUBLE), 9) AS draw
        |FROM documents WHERE n_chars >= 1
        |ORDER BY draw, doc_id LIMIT 100""".stripMargin)

  matrix.foreach { case (name, sqlText) =>
    test(s"SQL-entry matrix: $name ≡ its DataFrame form, exactly") {
      val viaSql = sqlSess.sql(sqlText)
      val viaApi = graft.SparkEntry.queries(name)(sqlSess, sf)
      assert(viaSql.columns.toSeq === viaApi.columns.toSeq,
        s"column sets differ for $name")
      val n = viaSql.count()
      assert(n > 0 && n === viaApi.count(), s"row counts differ for $name")
      // exact row-set equality — doubles compare bitwise (both forms
      // run the same kernels in the same engine)
      assert(viaSql.exceptAll(viaApi).isEmpty &&
        viaApi.exceptAll(viaSql).isEmpty,
        s"row sets differ for $name")
    }
  }

  test("SQL-entry matrix: the broadcast hint lands (join_broadcast " +
       "plans two BroadcastHashJoins from SQL text)") {
    val p = sqlSess.sql(matrix.toMap.apply("join_broadcast"))
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("SQL-entry matrix: newly registered kernels resolve from text " +
       "(graft_min_shingle_md5 / graft_simhash_md5 / graft_vecsum / " +
       "graft_topk_rows)") {
    // smoke each registration with a one-row evaluation: resolution
    // from SQL text is the contract under test; kernel semantics are
    // pinned by their own expression specs
    // token arrays (the kernels shingle internally with k=3, so ≥3
    // tokens — fewer returns null by contract)
    val r = sqlSess.sql("""
      |SELECT
      |  graft_min_shingle_md5(array('a', 'b', 'c', 'd')) AS f,
      |  graft_simhash_md5(array('a', 'b', 'c')) AS sh,
      |  graft_minhash_md5(array('a', 'b', 'c', 'd'), 4, 3) AS mh
      |""".stripMargin).collect()(0)
    assert(r.getString(0).nonEmpty)
    assert(r.get(1) != null)
    assert(r.getSeq[String](2).length === 4)
    val agg = sqlSess.sql("""
      |SELECT graft_vecsum(embedding) AS vs,
      |       graft_topk_rows(CAST(vec_id AS DOUBLE), vec_id,
      |         struct(label), 3, 0) AS tk
      |FROM graft_vecs
      |""".stripMargin).collect()(0)
    assert(agg.getSeq[Double](0).nonEmpty)
    assert(agg.getSeq[Any](1).length === 3)
  }

  test("SQL-entry matrix: graft_countmin resolves from text and its " +
       "counters sum to depth x row-count") {
    val r = sqlSess.sql(
      "SELECT graft_countmin(vec_id, 4, 256) AS cms FROM graft_vecs")
      .collect()(0).getSeq[Long](0)
    assert(r.length === 4 * 256)
    val n = sqlSess.sql("SELECT count(*) FROM graft_vecs")
      .collect()(0).getLong(0)
    assert(r.sum === 4 * n) // each row of the sketch counts every key once
  }
}
