package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.functions._

import graft.functions.Text

/** WordPiece merge training — the THIRD tokenizer family beside BPE
  * (Bpe.scala) and unigram (Unigram.scala): the BERT-style likelihood
  * criterion (Schuster & Nakajima 2012; the public HuggingFace-documented
  * training rule). Each round merges the adjacent symbol pair maximizing
  *
  *   score = count(pair) / (count(lhs) * count(rhs))
  *
  * instead of BPE's raw pair count — the pair that most increases the
  * corpus unigram-LM likelihood. Non-initial symbols carry the `##`
  * continuation marker (the WordPiece vocabulary convention); a merge
  * concatenates lhs with rhs-minus-marker, so the merged symbol inherits
  * the lhs's position class.
  *
  * Scale posture: identical to BPE's — the ONE corpus-sized job is the
  * initial word-frequency aggregate; every round after runs on the
  * VOCABULARY (pair counts + symbol counts, both partial-aggregated and
  * vocabulary-bounded), the winner crosses the driver as a 2-string value,
  * and per-round localCheckpoints pin constant plan depth. Scores compare
  * as doubles built from exact integer counts with the SAME operand order
  * in both engines (two long→double conversions, one multiply, one divide
  * — IEEE-identical), ties broken (lhs asc, rhs asc).
  */
object WordPiece {

  private val Marker = "##"

  /** Merged symbol of a (lhs, rhs) pair: rhs drops its continuation
    * marker; the result inherits lhs's class.
    */
  private[graft] def merged(l: String, r: String): String =
    l + r.stripPrefix(Marker)

  /** Vocabulary frame (w, syms, n) with `##`-marked non-initial
    * characters: "word" → "w ##o ##r ##d".
    */
  private[graft] def initVocab(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(Text.tokens(col(textCol))).as("w"))
      .where(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .select(col("w"), markedSyms(col("w")).as("syms"), col("n"))
      .localCheckpoint(eager = false)

  /** The ##-marked initial segmentation of one word: first CODE POINT
    * plain, the rest marked. Per code point throughout
    * (Text.codePointSplit matches substring's code-point head — a
    * code-unit split would mangle supplementary continuations to
    * lone-surrogate `?`s).
    */
  private def markedSyms(w: Column): Column =
    when(length(w) === 1, w)
      .otherwise(concat_ws(" ",
        substring(w, 1, 1),
        concat_ws(" ", transform(
          Text.codePointSplit(substring(w, 2, Int.MaxValue)),
          c => concat(lit(Marker), c)))))

  /** One WordPiece merge over a space-joined symbol string — the same
    * leftmost, non-overlapping left fold as Bpe.applyMerge, with the
    * merged replacement [[merged]](l, r) instead of l+r.
    */
  private[graft] def applyMerge(syms: Column, l: String, r: String): Column = {
    val toks = split(syms, " ")
    val rest = slice(toks, lit(2), size(toks) - 1)
    // Spark length()/substr count CODE POINTS — so must the tail trim
    // (l.length would be UTF-16 code units, one short per emoji in l)
    val lCps = l.codePointCount(0, l.length)
    aggregate(rest, element_at(toks, 1), (acc, s) =>
      when(s === lit(r) && (acc === lit(l) || acc.endsWith(lit(" " + l))),
        concat(acc.substr(lit(1), length(acc) - lit(lCps)),
          lit(merged(l, r))))
        .otherwise(concat(acc, lit(" "), s)))
  }

  /** The round's winner under the likelihood score: vocabulary-bounded
    * pair counts joined (broadcast) with the vocabulary-bounded symbol
    * counts on both sides, ranked by (score desc, lhs asc, rhs asc) — one
    * aggregate pair + TakeOrderedAndProject, never a corpus pass.
    * Output: (lhs, rhs, cnt, lhs_cnt, rhs_cnt).
    */
  private[graft] def bestPair(vocab: DataFrame): DataFrame = {
    val pair = split(col("pair"), " ")
    val pairs = vocab
      .select(col("n"),
        explode(Text.shingles(split(col("syms"), " "), 2)).as("pair"))
      .select(element_at(pair, 1).as("lhs"), element_at(pair, 2).as("rhs"),
        col("n"))
      .groupBy(col("lhs"), col("rhs")).agg(sum(col("n")).as("cnt"))
    val syms = vocab
      .select(col("n"), explode(split(col("syms"), " ")).as("sym"))
      .groupBy(col("sym")).agg(sum(col("n")).as("c"))
    pairs
      .join(broadcast(syms.select(col("sym").as("lhs"), col("c").as("lhs_cnt"))),
        Seq("lhs"))
      .join(broadcast(syms.select(col("sym").as("rhs"), col("c").as("rhs_cnt"))),
        Seq("rhs"))
      .withColumn("score",
        col("cnt").cast("double") /
          (col("lhs_cnt").cast("double") * col("rhs_cnt").cast("double")))
      .orderBy(col("score").desc, col("lhs").asc, col("rhs").asc)
      .limit(1)
      .select(col("lhs"), col("rhs"), col("cnt"),
        col("lhs_cnt"), col("rhs_cnt"))
  }

  /** A trained WordPiece model: the merge table (rnd, lhs, rhs, cnt,
    * lhs_cnt, rhs_cnt — integer evidence for the score, which is
    * derivable) plus the fully-merged vocabulary (w, syms, n) — word →
    * trained segmentation, the encode map.
    */
  final case class Model(merges: Seq[(Int, String, String, Long, Long, Long)],
                         vocab: DataFrame)

  // ------------------------------------------------------- tokenizer I/O
  // The merge table (with its integer likelihood evidence) is the PORTABLE
  // artifact, mirroring Bpe.saveTokenizer/loadTokenizer (SURVEY 55o's
  // discipline applied to the third family): train once, persist the JSON,
  // hydrate, encode any later corpus with NO retraining job. The OOV story
  // is the same open-vocabulary one as BPE's — a word the training split
  // never saw still segments (initial char + ##-marked continuations +
  // whichever stored merges apply), so no [UNK] sink is needed: coverage
  // is total by construction.

  import org.json4s._
  import org.json4s.jackson.JsonMethods

  def saveTokenizer(path: String,
                    merges: Seq[(Int, String, String, Long, Long, Long)]): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    val json = JObject(
      "kind" -> JString("wordpiece_tokenizer"),
      "version" -> JInt(1),
      "merges" -> JArray(merges.sortBy(_._1).map {
        case (rnd, l, r, c, lc, rc) =>
          JObject("rnd" -> JInt(rnd), "lhs" -> JString(l),
            "rhs" -> JString(r), "cnt" -> JLong(c),
            "lhs_cnt" -> JLong(lc), "rhs_cnt" -> JLong(rc)): JValue
      }.toList))
    java.nio.file.Files.writeString(p,
      JsonMethods.pretty(JsonMethods.render(json)))
  }

  def loadTokenizer(path: String): Seq[(Int, String, String, Long, Long, Long)] = {
    val j = JsonMethods.parse(
      java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
    require((j \ "kind") == JString("wordpiece_tokenizer"),
      s"not a wordpiece_tokenizer artifact: $path")
    (j \ "merges") match {
      case JArray(ms) => ms.map { m =>
        def s(f: String) = (m \ f).asInstanceOf[JString].s
        def l(f: String) = (m \ f) match {
          case JInt(x)  => x.toLong
          case JLong(x) => x
          case other    => throw new IllegalArgumentException(s"bad $f: $other")
        }
        (l("rnd").toInt, s("lhs"), s("rhs"), l("cnt"),
          l("lhs_cnt"), l("rhs_cnt"))
      }.sortBy(_._1)
      case other => throw new IllegalArgumentException(s"bad merges: $other")
    }
  }

  /** Fold a stored merge table over an arbitrary corpus's ##-marked
    * vocabulary — the tokenizer-application half of the artifact round
    * trip, Bpe.applyMergeTable's discipline (per-round localCheckpoint →
    * constant plan depth; each round a pure vocabulary-sized map, zero
    * shuffle).
    */
  private[graft] def applyMergeTable(vocab: DataFrame,
      merges: Seq[(Int, String, String, Long, Long, Long)]): DataFrame =
    merges.sortBy(_._1).foldLeft(vocab) { case (v, (_, l, r, _, _, _)) =>
      v.withColumn("syms", applyMerge(col("syms"), l, r))
        .localCheckpoint(eager = false)
    }

  /** The PIECE VOCABULARY a production longest-match encoder serves from:
    * every distinct symbol of `df`'s words' trained segmentation under
    * `merges` — exactly what a BERT-style vocab file ships. Bounded by
    * construction (initial code points, marked and unmarked, plus at most
    * ONE new symbol per merge round), so the driver collect is
    * alphabet-scale, not vocabulary-scale. Returns (head pieces,
    * continuation pieces WITHOUT the ## marker), each sorted for
    * deterministic registration.
    *
    * Namespace note (inherent to the ## convention, production WordPiece
    * included): a HEAD symbol that itself starts with literal "##" (a
    * corpus word beginning '##' whose chars merged) is indistinguishable
    * from a marked continuation and classifies as one — both engines
    * apply the same textual rule, so the twins agree; a bare "##" or
    * marker-only symbol is excluded outright (an empty continuation
    * piece would never advance the match cursor).
    */
  def pieceVocab(df: DataFrame, textCol: String,
                 merges: Seq[(Int, String, String, Long, Long, Long)])
      : (Seq[String], Seq[String]) = {
    val segs = applyMergeTable(initVocab(df, textCol), merges)
    val syms = segs.select(explode(split(col("syms"), " ")).as("sym"))
      .distinct().collect().map(_.getString(0)).toSeq
    val (cont, head) = syms.partition(_.startsWith(Marker))
    (head.sorted,
      cont.filter(_.length > Marker.length).map(_.stripPrefix(Marker)).sorted)
  }

  /** Per-document token accounting under a LOADED WordPiece merge table
    * (train elsewhere → [[saveTokenizer]] → hydrate → encode THIS corpus):
    * THIS corpus's ##-marked vocabulary folds through the stored winners,
    * then the tf-compressed encode join (Bpe.encodeJoin — the vocab
    * convention never enters it, only segment counts do) produces
    * (id, n_words, n_chars, n_tokens). Out-of-training-vocabulary words
    * segment too — the open-vocabulary contract.
    */
  def encodeStatsWith(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(Int, String, String, Long, Long, Long)]): DataFrame =
    // two independent corpus explodes — measured and kept, see
    // Bpe.encodeStatsWith's r15 note (the checkpointed-tf share was a
    // 1.5x regression at sf100)
    Bpe.encodeJoin(df, idCol, textCol,
      applyMergeTable(initVocab(df, textCol), merges))

  /** Per-ROW (n_words, n_chars, n_tokens) under a fixed WordPiece merge
    * table through the codegen'd [[graft.functions.WordPieceStats]] loop —
    * the streaming-safe twin of [[encodeStatsWith]] (no corpus-at-rest
    * pass, no state; the fold is a pure function of the word, so the
    * per-row and vocabulary-join paths are result-equal — BpeSpec pins
    * it). The ConfigRuntime `tokenize` step's streaming path for
    * `family: wordpiece`.
    */
  def tokenStatsFast(textCol: Column,
                     merges: Seq[(Int, String, String, Long, Long, Long)]): Column = {
    val table = merges.sortBy(_._1).map { case (_, l, r, _, _, _) => (l, r) }
    column(graft.functions.WordPieceStats(
      expression(filter(Text.tokens(textCol), w => w =!= "")), table))
  }

  /** Train `rounds` WordPiece merges; stops early when no pair remains. */
  def train(df: DataFrame, textCol: String, rounds: Int): Model = {
    require(rounds > 0, s"wordpiece: rounds must be > 0, got $rounds")
    var vocab = initVocab(df, textCol)
    val out = Seq.newBuilder[(Int, String, String, Long, Long, Long)]
    var rnd = 1
    var exhausted = false
    while (rnd <= rounds && !exhausted) {
      bestPair(vocab).collect().headOption match {
        case None => exhausted = true
        case Some(row) =>
          val (l, r) = (row.getString(0), row.getString(1))
          out += ((rnd, l, r, row.getLong(2), row.getLong(3), row.getLong(4)))
          vocab = vocab.withColumn("syms", applyMerge(col("syms"), l, r))
            .localCheckpoint(eager = false)
          rnd += 1
      }
    }
    Model(out.result(), vocab)
  }
}
