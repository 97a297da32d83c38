package graft.queries

/** DuckDB references for the benchmark's two project workloads, composed
  * from the same oracle builders the repo's own `config_*` heads use, so the
  * reference arithmetic cannot drift from the project oracles. Each SQL text
  * mirrors one YAML document under `perfbench/projects/`; a constant changed
  * on one side shows up as a failed output check, never as a silent pass.
  *
  * Output columns follow the Q.scala cross-engine rules: timestamps as
  * epoch-µs BIGINT, doubles as produced (the checker rounds both sides to
  * 6 places before it compares).
  */
object PerfbenchOracle {

  /** `projects/ts_train.yaml`: where → floor_time(1h) → collapse(last) →
    * forward_fill → rolling mean/stdev(6) → lag(1) → 1h assembly keyed by
    * user_id → hash split (seed 7, .8/.1/.1) → train-only scaler on the two
    * rolling vectors.
    */
  def tsTrainSql: String = {
    // ratios canonicalized by label (the reference rule): test | train | val
    val sortedRatios = Seq("test" -> 0.1, "train" -> 0.8, "val" -> 0.1)
    val token = "CAST(t_us AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)"
    def stats(c: String) =
      s"""${Q.sumDecSql(c, 6)} / COUNT($c) AS ${c}_m,
          ROUND(GREATEST(COALESCE(stddev_pop($c), 0.0), 1e-12), 6) AS ${c}_s"""
    s"""WITH src AS (
          SELECT user_id, event_id,
                 CASE WHEN isnan(value) THEN NULL ELSE value END AS value,
                 epoch_us(ts) - epoch_us(ts) % 3600000000 AS t_us
          FROM events WHERE event_type != 'error'),
        collapsed AS (
          SELECT user_id, event_id, value, t_us FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id, t_us
                                         ORDER BY event_id DESC) AS rn
            FROM src) WHERE rn = 1),
        filled AS (
          SELECT user_id, event_id, t_us,
                 last_value(value IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY t_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ff
          FROM collapsed),
        rolled AS (
          SELECT user_id, t_us, value_ff,
                 CASE WHEN count(value_ff) OVER w >= 6
                      THEN avg(value_ff) OVER w END AS mean6,
                 CASE WHEN count(value_ff) OVER w >= 6
                      THEN stddev_samp(value_ff) OVER w END AS std6,
                 lag(value_ff, 1) OVER (PARTITION BY user_id
                                        ORDER BY t_us, event_id) AS lag1
          FROM filled
          WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id
                       ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)),
        folded AS (
          SELECT 'holdout' AS fold,
                 CASE ${QueriesAssembly.hashSplitSql(token, 7, sortedRatios)}
                   WHEN 'train' THEN 'train' WHEN 'val' THEN 'validation'
                   ELSE 'test' END AS role,
                 user_id, t_us, value_ff, mean6, std6, lag1
          FROM rolled),
        stats AS (
          SELECT ${stats("mean6")}, ${stats("std6")}
          FROM folded WHERE role = 'train')
        SELECT fold, role, user_id, t_us AS sample_time, value_ff AS value,
               (mean6 - mean6_m) / mean6_s AS mean6,
               (std6 - std6_m) / std6_s AS std6,
               lag1
        FROM folded, stats"""
  }

  /** `projects/corpus_curate.yaml`: repetition gate → min-id exact dedup →
    * minhash near-dup clusters (canonical keep) → trained classifier gate
    * (labels = langId(text) == 'en', fitted on the curated frame) →
    * overlapping token chunks.
    */
  def corpusCurateSql: String = {
    val sig = QueriesCuration.hardSigmoidSql("s.s")
    s"""WITH RECURSIVE
        kept0 AS (
          SELECT d.doc_id, d.text FROM documents d
          WHERE ${QueriesCorpus.repSql("d")} <= 0.8),
        kept1 AS (
          SELECT k.doc_id, k.text FROM kept0 k
          JOIN (SELECT text, min(doc_id) AS doc_id
                FROM kept0 GROUP BY text) m
            ON m.text IS NOT DISTINCT FROM k.text AND m.doc_id = k.doc_id),
        ${QueriesLlm.minhashCtes("kept1")},
        ${QueriesLlm.minhashClosureCtes("kept1")},
        kept2 AS (
          SELECT k.doc_id, k.text FROM kept1 k
          JOIN lab ON lab.doc_id = k.doc_id
          WHERE lab.doc_id = lab.cluster_id),
        ${QueriesCuration.logRegCtes(QueriesCuration.ClsBuckets,
          QueriesCuration.ClsIters, QueriesCuration.ClsEta,
          rel = "kept2", labelSql = clsLabelSql("kept2"))},
        kept3 AS (
          SELECT k.doc_id, k.text FROM kept2 k JOIN cls_sF s USING (doc_id)
          WHERE $sig >= 0.5),
        ${QueriesCuration.chunkTailSql("kept3", 64, 48)}"""
  }

  /** The verified near-dup edge count of the corpus reference — the input
    * to the `graft.cc.driver_max_edges` gate decision.
    */
  def corpusEdgesSql: String =
    s"""WITH kept0 AS (
          SELECT d.doc_id, d.text FROM documents d
          WHERE ${QueriesCorpus.repSql("d")} <= 0.8),
        kept1 AS (
          SELECT k.doc_id, k.text FROM kept0 k
          JOIN (SELECT text, min(doc_id) AS doc_id
                FROM kept0 GROUP BY text) m
            ON m.text IS NOT DISTINCT FROM k.text AND m.doc_id = k.doc_id),
        ${QueriesLlm.minhashCtes("kept1")}
        SELECT count(*) AS n FROM verified WHERE jacc >= 0.5"""

  /** The classify step's label twin (`QueriesCorpus.clsLabelSql`, private
    * there) — called reflectively so the text stays the repo's own.
    */
  private def clsLabelSql(rel: String): String = {
    val m = QueriesCorpus.getClass.getDeclaredMethod("clsLabelSql",
      classOf[String])
    m.setAccessible(true)
    m.invoke(QueriesCorpus, rel).asInstanceOf[String]
  }

  /** Head name → the `Queries*` object that declares it. */
  def headModules: Map[String, String] = Seq(
    "QueriesTpch" -> QueriesTpch.queries,
    "QueriesSources" -> QueriesSources.queries,
    "QueriesPreprocess" -> QueriesPreprocess.queries,
    "QueriesOrdered" -> QueriesOrdered.queries,
    "QueriesCompose" -> QueriesCompose.queries,
    "QueriesAssembly" -> QueriesAssembly.queries,
    "QueriesLlm" -> QueriesLlm.queries,
    "QueriesCorpus" -> QueriesCorpus.queries,
    "QueriesCrawl" -> QueriesCrawl.queries,
    "QueriesCuration" -> QueriesCuration.queries,
    "QueriesServe" -> QueriesServe.queries,
    "QueriesPipeline" -> QueriesPipeline.queries,
    "QueriesMining" -> QueriesMining.queries,
    "QueriesUnigram" -> QueriesUnigram.queries,
    "QueriesStreaming" -> QueriesStreaming.queries
  ).flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap
}
