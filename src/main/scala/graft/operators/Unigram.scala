package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.functions._

import graft.functions.{Text, UnigramSeg}

/** Unigram-LM (SentencePiece-style) tokenizer training — the OTHER
  * tokenizer family real pipelines train beside BPE (Kudo 2018, public
  * algorithm; reference scope anchor: the reference's vocabulary tooling
  * stops at token counts, exactly as for Bpe). Hard-EM over a
  * vocabulary-BOUNDED candidate table: Viterbi counts replace full
  * forward-backward expectations, and the candidate set stays fixed with
  * add-one smoothing, so every round's state is a bounded integer table the
  * driver can hold — the bpe_merges discipline.
  *
  * Scale posture: the ONE corpus-sized job is the initial word-frequency
  * aggregate (shuffle keys = words, output vocabulary-sized). Candidate
  * generation, the per-round Viterbi E-step, and the count aggregation all
  * run on the DISTINCT-WORD frame weighted by frequency — never on corpus
  * rows — and the per-round model (≤ cap+alphabet pieces → round-6 micro
  * log-probs) folds back in as fitted expression state
  * (functions.UnigramSeg), zero joins per row. Rounds are bounded and the
  * plan per round is constant-depth (fresh fold over the checkpointed
  * vocabulary), so the trainer's cost at 1000× data is 1000× ONE word
  * aggregate plus unchanged bounded rounds.
  *
  * Cross-engine determinism: all scores are integer micros (round-6 ln of
  * an identically-computed double ratio — the idf/entropy discipline);
  * Viterbi ties break to the LONGEST piece, pinned on both sides; the
  * candidate cap ranks (freq DESC, piece ASC) — exact integers.
  */
object Unigram {

  /** Max piece length: candidates are all ≤4-char substrings. */
  val MaxPieceLen = 4

  /** Candidate cap for multi-char pieces (single chars always survive so
    * every word stays segmentable). Top-`cap` by (freq DESC, piece ASC) —
    * at 100 TB this is what bounds the model, the EM state, and the fitted
    * expression: the corpus can grow without the trainer's driver-side
    * state growing.
    */
  val CandidateCap = 120

  /** Hard-EM rounds (each = one vocabulary-sized Spark job). */
  val EmRounds = 3

  /** Fixed log-prob (micros) for an out-of-vocabulary single character —
    * only reachable when a fitted model segments a corpus the trainer
    * never saw (the artifact round trip).
    */
  val UnkLpMicros: Long = -30000000L

  /** round(ln(x), 6) in exact integer micros — Spark round() semantics
    * (BigDecimal of the shortest decimal string, HALF_UP), mirrored by the
    * oracle's CAST(CAST(ROUND(ln(x),6) AS DECIMAL(20,6)) * 1e6 AS BIGINT).
    */
  private[graft] def lnMicros(x: Double): Long =
    BigDecimal(java.lang.Double.toString(math.log(x)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .bigDecimal.movePointRight(6).longValueExact

  /** Distinct-word frequency frame (w, n) — the one corpus-sized aggregate,
    * checkpointed because every EM round reads it.
    */
  private[graft] def wordFreq(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(Text.tokens(col(textCol))).as("w"))
      .where(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = false)

  /** Candidate substring frequencies over the vocabulary: every (start,
    * length ≤ MaxPieceLen) substring occurrence of every distinct word,
    * weighted by word frequency. The outer sequence is clamped to the word
    * length so the inner sequence never runs backwards.
    */
  private[graft] def candFreq(vocab: DataFrame): DataFrame =
    vocab.select(col("n"), explode(flatten(
      transform(sequence(lit(1), least(length(col("w")), lit(MaxPieceLen))),
        l => transform(sequence(lit(1), length(col("w")) - l + 1),
          s => substring(col("w"), s, l))))).as("piece"))
      .groupBy(col("piece")).agg(sum(col("n")).as("freq"))

  /** The fixed candidate set with initial counts c0 = candidate frequency:
    * ALL single characters plus the top-`CandidateCap` longer pieces by
    * (freq DESC, piece ASC). Bounded by construction — safe to collect.
    */
  private[graft] def candidateSet(vocab: DataFrame): Seq[(String, Long)] = {
    val cand = candFreq(vocab).localCheckpoint(eager = false)
    val chars = cand.where(length(col("piece")) === 1)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val multi = cand.where(length(col("piece")) >= 2)
      .orderBy(col("freq").desc, col("piece").asc).limit(CandidateCap)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    (chars ++ multi).toSeq.sortBy(_._1)
  }

  /** M-step: counts → add-one-smoothed log-probs in micros. */
  private[graft] def logProbs(counts: Seq[(String, Long)]): Seq[(String, Long)] = {
    val t = (counts.iterator.map(_._2).sum + counts.length).toDouble
    counts.map { case (p, c) => (p, lnMicros((c + 1).toDouble / t)) }
  }

  /** Viterbi segmentation of a word column under fitted log-probs
    * (codegen'd [[UnigramSeg]]).
    */
  private[graft] def segment(word: Column, pieceLps: Seq[(String, Long)]): Column =
    column(UnigramSeg(expression(word), pieceLps, MaxPieceLen, UnkLpMicros))

  /** A trained tokenizer: the per-round count trajectory (rnd 0 = candidate
    * frequencies; rnd i = round i's Viterbi piece counts over the FULL
    * candidate set, zeros included) plus the final counts — the portable
    * artifact the apply side rehydrates into probabilities.
    */
  final case class Model(trajectory: Seq[(Int, String, Long)],
                         pieces: Seq[(String, Long)])

  def train(df: DataFrame, textCol: String, rounds: Int = EmRounds): Model = {
    require(rounds > 0, s"unigram: rounds must be > 0, got $rounds")
    val vocab = wordFreq(df, textCol)
    val v0 = candidateSet(vocab)
    var counts = v0
    val traj = Seq.newBuilder[(Int, String, Long)]
    traj ++= counts.map { case (p, c) => (0, p, c) }
    var rnd = 1
    while (rnd <= rounds) {
      val segCounts = vocab
        .select(col("n"), explode(segment(col("w"), logProbs(counts))).as("piece"))
        .groupBy(col("piece")).agg(sum(col("n")).as("cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      counts = v0.map { case (p, _) => (p, segCounts.getOrElse(p, 0L)) }
      traj ++= counts.map { case (p, c) => (rnd, p, c) }
      rnd += 1
    }
    Model(traj.result(), counts)
  }

  /** The EM trajectory as a frame — the gated query surface. */
  def trajectoryFrame(df: DataFrame, textCol: String,
                      rounds: Int = EmRounds): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    train(df, textCol, rounds).trajectory
      .map { case (r, p, c) => (r.toLong, p, c) }
      .toDF("rnd", "piece", "cnt")
  }

  // ------------------------------------------------------- tokenizer I/O
  // Final counts are the PORTABLE artifact (reference artifact discipline,
  // artifacts/scaler.py save/load shape): probabilities rehydrate from
  // counts on load, so the stored file is integer-exact.

  import org.json4s._
  import org.json4s.jackson.JsonMethods

  def saveTokenizer(path: String, pieces: Seq[(String, Long)]): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    val json = JObject(
      "kind" -> JString("unigram_tokenizer"),
      "version" -> JInt(1),
      "max_piece_len" -> JInt(MaxPieceLen),
      "pieces" -> JArray(pieces.sortBy(_._1).map { case (piece, cnt) =>
        JObject("piece" -> JString(piece), "cnt" -> JLong(cnt)): JValue
      }.toList))
    java.nio.file.Files.writeString(p,
      JsonMethods.pretty(JsonMethods.render(json)))
  }

  def loadTokenizer(path: String): Seq[(String, Long)] = {
    val j = JsonMethods.parse(
      java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
    require((j \ "kind") == JString("unigram_tokenizer"),
      s"not a unigram_tokenizer artifact: $path")
    (j \ "pieces") match {
      case JArray(ps) => ps.map { m =>
        val piece = (m \ "piece").asInstanceOf[JString].s
        val cnt = (m \ "cnt") match {
          case JInt(x)  => x.toLong
          case JLong(x) => x
          case other    => throw new IllegalArgumentException(s"bad cnt: $other")
        }
        (piece, cnt)
      }.sortBy(_._1)
      case other => throw new IllegalArgumentException(s"bad pieces: $other")
    }
  }

  /** Per-document accounting under a FITTED model (the artifact round
    * trip): n_words, n_chars, n_pieces. Same tf-compressed shape as
    * Bpe.encodeJoin — the segmenter runs once per DISTINCT word (the
    * fitted fold over the vocabulary frame), documents collapse to term
    * frequencies, and the vocabulary-sized piece-count map joins back
    * (AQE broadcasts it when small). Words the training corpus never saw
    * segment through the UNK single-char fallback.
    */
  def encodeStatsWith(df: DataFrame, idCol: String, textCol: String,
                      pieces: Seq[(String, Long)]): DataFrame = {
    val tokMap = wordFreq(df, textCol)
      .select(col("w"),
        size(segment(col("w"), logProbs(pieces))).cast("long").as("wpieces"))
    val tf = df
      .select(col(idCol), explode(Text.tokens(col(textCol))).as("w"))
      .where(col("w") =!= "")
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("tf"))
    tf.join(tokMap, "w")
      .groupBy(col(idCol))
      .agg(sum(col("tf")).cast("long").as("n_words"),
        sum(col("tf") * length(col("w"))).cast("long").as("n_chars"),
        sum(col("tf") * col("wpieces")).cast("long").as("n_pieces"))
  }
}
