package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.queries.Q.sumDec

/** Data-selection operators for LLM pretraining corpora: hashed-feature
  * importance scoring (the DSIR shape — "Data Selection for Language Models
  * via Importance Resampling", Xie et al. 2023) and temperature-scaled
  * domain mixture reweighting (the multilingual/multi-domain sampling rule
  * popularized by mBERT/XLM-R-style training).
  *
  * Scale posture: every model here is a BOUNDED side table — the hashed
  * feature space is a fixed `buckets`-row frame and the domain table is one
  * row per source — so the corpus-sized relation joins them broadcast and
  * is never shuffled. Totals enter the plans as broadcast one-row
  * aggregates, not driver actions.
  *
  * Cross-engine determinism: bucket log-ratios and per-token logs are
  * rounded to 6 decimals and summed through exact decimals (sumDec), so the
  * per-doc score is independent of Spark's aggregation order and matches
  * the DuckDB oracle bit for bit.
  */
object Importance {

  /** Hashed-unigram bucket id in [0, buckets). */
  def bucket(tok: Column, buckets: Int): Column =
    pmod(Text.portableHash(tok), lit(buckets)).cast("int")

  /** DSIR-style importance scores: per-doc mean log-ratio of the target
    * unigram distribution over the raw distribution, both estimated on
    * `buckets` hashed features with add-one smoothing.
    *
    * `targetPred` marks the in-domain rows (the distribution we want more
    * of); the raw distribution is the whole frame. Output: one row per doc
    * — (idCol, n_tokens, dsir_score, keep) with keep = score > 0 (the doc
    * looks more target-like than corpus-like).
    */
  /** (idCol, b) token-bucket relation of `frame`. The target predicate is
    * applied as a doc-level FILTER before the explode, never carried as a
    * projected flag: Catalyst hoists generator-adjacent projections above
    * the Generate, so a flag column would re-evaluate its expression per
    * TOKEN row (measured: a langId target predicate at 40M tokens turned a
    * ~25 s fit into 209 s).
    */
  private def bucketed(frame: DataFrame, idCol: String, textCol: String,
                       buckets: Int): DataFrame =
    frame.select(col(idCol), explode(Text.tokens(col(textCol))).as("tok"))
      .select(col(idCol), bucket(col("tok"), buckets).as("b"))

  def dsirScores(df: DataFrame, idCol: String, textCol: String,
                 targetPred: Column, buckets: Int): DataFrame = {
    // ONE fused fit pass: both distributions count together off a single
    // native bucket hash per token (functions/PortableHashArr — no
    // hex/conv string path; the former shape paid ~5 corpus explodes,
    // each re-hashing every token). The collected state is `buckets`
    // count pairs — metadata-scale, the kmeans-centroids discipline.
    val toks = Text.tokens(col(textCol))
    // the target flag lives INSIDE the generator input (target docs emit
    // every bucket a second time, offset into [buckets, 2*buckets)), so
    // the predicate evaluates once per DOC — a flag column projected
    // beside the Generate would be hoisted above it and re-evaluated per
    // TOKEN row (see [[bucketed]]'s measured 25 s -> 209 s trap)
    val arr = column(graft.functions.PortableHashArr(expression(toks),
      buckets.toLong))
    val tagged = when(targetPred,
      concat(arr, transform(arr, h => h + buckets))).otherwise(arr)
    val cells = df
      .select(explode(tagged).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    val observed = (0 until buckets).flatMap { b =>
      val raw = cells.getOrElse(b, 0L)
      val tgt = cells.getOrElse(b + buckets, 0L)
      if (raw == 0L && tgt == 0L) None else Some(b -> (raw, tgt))
    }.toMap
    val rawTotal = observed.values.map(_._1).sum
    val tgtTotal = observed.values.map(_._2).sum
    // add-one smoothed log-ratio per bucket; numerator/denominator are
    // assembled in the SAME operation order as the SQL twin, and the
    // round is Spark's (HALF_UP on the shortest decimal form) — IEEE-exact
    val lr = Array.tabulate(buckets) { b =>
      val (rawB, tgtB) = observed.getOrElse(b, (0L, 0L))
      val v = math.log(((tgtB + 1.0) * (rawTotal + buckets.toDouble)) /
        ((rawB + 1.0) * (tgtTotal + buckets.toDouble)))
      BigDecimal(java.lang.Double.toString(v))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    // ONE scoring pass: the model enters the plan as a literal and the
    // per-doc mean folds in the codegen'd DsirFold — bit-equal to the
    // former in-plan decimal mean (micros sum -> /1e6 -> /n -> round 6)
    val score = dsirScoreExpr(col(textCol), lr)
    df.select(col(idCol),
      size(toks).cast("long").as("n_tokens"),
      score.as("dsir_score"),
      // coalesce preserves the pre-r13 contract: a null score (a document
      // DsirFold could not score — today impossible because split() always
      // yields >= 1 token, but the invariant lives HERE, not at call sites)
      // means keep = false, never keep = null
      (coalesce(score, lit(0.0)) > 0.0).as("keep"))
  }

  // ---------------------------------------------------------- DSIR model
  // The trained selector as a PERSISTED artifact (the save/load_scaler
  // discipline applied to the bucket table): fit once on a reference
  // corpus, save the dense bucket→log-ratio array as JSON, hydrate and
  // score any later crawl — including AT INGEST on a stream, because
  // scoring under a hydrated model is a pure per-row fold (the bounded
  // model enters the plan as a literal map: zero shuffle, zero state).

  /** Fit the dense bucket model: log-ratio per bucket 0..buckets-1 (add-one
    * smoothing covers never-observed buckets with the prior ratio). The
    * collected state is `buckets` doubles — metadata-scale, like the
    * kmeans centroids — produced by one partial-aggregated corpus pass.
    * Rounding matches Spark's round() (HALF_UP on the shortest decimal
    * form) so fitted values are identical to the in-plan fit.
    */
  def dsirModel(df: DataFrame, textCol: String, targetPred: Column,
                buckets: Int): Array[Double] = {
    def counts(frame: DataFrame): Map[Int, Long] =
      frame.select(explode(Text.tokens(col(textCol))).as("tok"))
        .select(bucket(col("tok"), buckets).as("b"))
        .groupBy(col("b")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // target tokens come from a doc-level FILTER before the explode — see
    // [[bucketed]] for why the predicate must never ride through Generate
    val raw = counts(df)
    val tgt = counts(df.filter(targetPred))
    val rawTotal = raw.values.sum
    val tgtTotal = tgt.values.sum
    Array.tabulate(buckets) { b =>
      val rawB = raw.getOrElse(b, 0L)
      val tgtB = tgt.getOrElse(b, 0L)
      val v = math.log(((tgtB + 1.0) * (rawTotal + buckets.toDouble)) /
        ((rawB + 1.0) * (tgtTotal + buckets.toDouble)))
      BigDecimal(java.lang.Double.toString(v))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
  }

  /** Persist the model as JSON (`{"buckets": B, "lr": [...]}`).
    * Double.toString round-trips exactly, so hydrate == fit.
    */
  def saveModel(path: String, lr: Array[Double]): Unit = {
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    val json = s"""{"buckets": ${lr.length}, "lr": [${lr.mkString(", ")}]}"""
    java.nio.file.Files.writeString(p, json)
  }

  def loadModel(path: String): Array[Double] = {
    val json = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
    val arr = json.split("\\[")(1).split("\\]")(0).trim
    if (arr.isEmpty) Array.empty
    else arr.split(",").map(_.trim.toDouble)
  }

  /** Per-row importance score under a trained model: mean bucket log-ratio
    * of the document's tokens, folded through an exact DECIMAL accumulator
    * (aggregation-order-free — lands exactly where a decimal groupBy sum
    * lands, which is what the oracle runs). The model enters the plan as a
    * literal map: pure codegen'd row expression, no shuffle, no state —
    * the shape that scores a crawl at ingest.
    */
  def dsirScoreExpr(text: Column, lr: Array[Double]): Column = {
    // model micros are exact: lr values are 6-decimal-rounded, so the
    // nearest long of v*1e6 recovers the decimal exactly
    val micros = lr.map(v => math.round(v * 1e6))
    column(graft.functions.DsirFold(expression(Text.tokens(text)),
      expression(array(micros.map(lit(_)): _*))))
  }

  /** The same score as a built-in higher-order fold — the interpreted
    * reference implementation DsirFold is spec-proven against (the
    * MinhashExprs discipline). Not for hot paths: ArrayAggregate is
    * CodegenFallback and walks an interpreted tree per token.
    */
  private[graft] def dsirScoreExprHof(text: Column, lr: Array[Double]): Column = {
    val buckets = lr.length
    val lrArr = array(lr.map(lit(_)): _*)
    val toks = Text.tokens(text)
    // re-cast after each add: decimal addition widens the type and the fold
    // accumulator must stay decimal(30,6)
    val dec = aggregate(toks, lit(0).cast("decimal(30,6)"),
      (acc, t) => (acc + element_at(lrArr, bucket(t, buckets) + 1)
        .cast("decimal(30,6)")).cast("decimal(30,6)"))
    round(dec.cast("double") / size(toks), 6)
  }

  /** Temperature-scaled domain mixture: per-domain target weight w_d ∝
    * n_d^alpha (alpha = 0.5 → sqrt, the multilingual-sampling default),
    * per-domain deterministic keep rate = min(1, T·w_d / n_d), applied as a
    * sha256-ratio filter per row — reproducible across runs and engines,
    * no RNG state. Upweights small domains, downsamples large ones, leaves
    * the expected total near T.
    *
    * Output: one row per input row — (idCol, domainCol, rate, keep).
    */
  /** The per-domain keep-rate table (one row per domain) behind
    * [[domainMix]] — exposed so the config journey can join-and-filter
    * while keeping the document schema.
    */
  def domainMixRates(df: DataFrame, domainCol: String,
                     tokCount: Column): DataFrame = {
    val perDom = df.groupBy(col(domainCol))
      .agg(sum(tokCount.cast("long")).as("n_toks"))
    // exact totals: long token sum; sqrt weights rounded then decimal-summed
    // so the normalizer is aggregation-order-free
    val totals = perDom.agg(
      sum(col("n_toks")).as("t_total"),
      sumDec(round(sqrt(col("n_toks").cast("double")), 6), 6).as("w_total"))
    perDom.crossJoin(broadcast(totals))
      .select(col(domainCol),
        round(least(lit(1.0),
          col("t_total").cast("double") *
            (round(sqrt(col("n_toks").cast("double")), 6) / col("w_total")) /
            col("n_toks").cast("double")), 6).as("rate"))
  }

  def domainMix(df: DataFrame, idCol: String, domainCol: String,
                tokCount: Column, seed: Int): DataFrame = {
    val rates = domainMixRates(df, domainCol, tokCount)
    df.join(broadcast(rates), Seq(domainCol))
      .select(col(idCol), col(domainCol), col("rate"),
        (Curation.hashRatio(col(idCol), seed) < col("rate")).as("keep"))
  }

  // --------------------------------------------------- mix-rates artifact
  // The per-domain keep-rate table as a PERSISTED artifact (the
  // save/load_scaler discipline): rates fit on the corpus at rest, and a
  // later run — including a STREAM — hydrates the table and applies the
  // gate as a pure per-row expression (rate lookup against a literal map +
  // the sha256-ratio filter). Domains are JSON-escaped; rates round-trip
  // through Double.toString exactly.

  def saveRates(path: String, rates: Map[String, Double]): Unit = {
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    def esc(s: String): String = s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val body = rates.toSeq.sortBy(_._1)
      .map { case (d, r) => s""""${esc(d)}": $r""" }.mkString(", ")
    java.nio.file.Files.writeString(p, s"{$body}")
  }

  def loadRates(path: String): Map[String, Double] = {
    val json = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
    val entry = """"((?:[^"\\]|\\.)*)"\s*:\s*(-?[\d.eE+]+)""".r
    entry.findAllMatchIn(json).map { m =>
      val d = m.group(1)
        .replace("\\\"", "\"").replace("\\\\", "\\")
      d -> m.group(2).toDouble
    }.toMap
  }

  /** The per-row mixture gate under a HYDRATED rate table: keep iff
    * sha256-ratio(id) < rate(domain), rates entering the plan as a literal
    * map (unknown domains keep nothing — they were absent when rates were
    * fitted, the conservative streaming posture). Zero shuffle, no state.
    */
  def mixKeepExpr(id: Column, domain: Column, seed: Int,
                  rates: Map[String, Double]): Column = {
    val rateLit =
      if (rates.isEmpty) lit(0.0)
      else element_at(
        map(rates.toSeq.sortBy(_._1)
          .flatMap { case (d, r) => Seq(lit(d), lit(r)) }: _*),
        domain)
    Curation.hashRatio(id, seed) < coalesce(rateLit, lit(0.0))
  }
}
