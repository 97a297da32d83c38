package graft

import java.nio.file.Files

import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.functions._

import graft.operators.Bpe

/** BPE merge training (operators/Bpe.scala): hand-computed merges on a
  * micro corpus, the leftmost-non-overlapping merge fold, early exhaustion,
  * and the per-round plan shape (one aggregate + TakeOrdered, constant
  * across rounds).
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("merge table matches the hand-computed Sennrich rounds") {
    // vocab: aaab n=3, ab n=3.
    // r1: (a,a)=6 ties (a,b)=6 → pair-asc picks (a,a); aaab → "aa a b"
    // r2: (a,b)=6 beats (aa,a)=3; "aa a b" → "aa ab", ab → "ab"
    // r3: (aa,ab)=3; then no pairs remain → early stop before round 4
    val docs = Seq("aaab aaab ab", "aaab ab ab").toDF("text")
    val got = Bpe.merges(docs, "text", rounds = 4)
    assert(got == Seq((1, "a", "a", 6L), (2, "a", "b", 6L), (3, "aa", "ab", 3L)))
  }

  test("merge fold is leftmost and non-overlapping") {
    val df = Seq("a a a a", "a a a", "b a a", "a", "xy a a").toDF("syms")
    val out = df.select(Bpe.applyMerge(col("syms"), "a", "a").as("m"))
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq("aa aa", "aa a", "b aa", "a", "xy aa"))
    // a symbol merely ENDING in l must not merge: last token check is exact
    val sneaky = Seq("ba a").toDF("syms")
      .select(Bpe.applyMerge(col("syms"), "a", "a").as("m"))
      .collect().head.getString(0)
    assert(sneaky == "ba a")
  }

  test("encodeStats applies the trained merges per document") {
    // merges after 3 rounds (see the hand-computed case above):
    // aaab → "aaab" (1 token), ab → "ab" (1 token)
    val docs = Seq((1L, "aaab aaab ab"), (2L, "aaab ab ab"), (3L, ""))
      .toDF("doc_id", "text")
    val got = Bpe.encodeStats(docs, "doc_id", "text", rounds = 4)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    // (doc_id, n_words, n_chars, n_tokens); doc 3 has no tokens → absent
    assert(got == Seq((1L, 3L, 10L, 3L), (2L, 3L, 8L, 3L)))
  }

  test("encodeStats under fewer rounds leaves words partially merged") {
    // 1 round merges only (a,a): aaab → "aa a b" (3), ab → "a b" (2)
    val docs = Seq((1L, "aaab aaab ab")).toDF("doc_id", "text")
    val r = Bpe.encodeStats(docs, "doc_id", "text", rounds = 1).collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((3L, 10L, 8L)))
  }

  test("tokenizer artifact round-trips and encodes without retraining") {
    val docs = Seq((1L, "aaab aaab ab"), (2L, "aaab ab ab")).toDF("doc_id", "text")
    val trained = Bpe.merges(docs, "text", rounds = 4)
    val path = Files.createTempDirectory("graft_bpe").resolve("tok.json")
    Bpe.saveTokenizer(path.toString, trained)
    val loaded = Bpe.loadTokenizer(path.toString)
    assert(loaded == trained, "save/load must round-trip the merge table")
    // encoding under the hydrated artifact equals train-and-encode in place
    val direct = Bpe.encodeStats(docs, "doc_id", "text", rounds = 4)
      .collect().map(_.toSeq).toSet
    val hydrated = Bpe.encodeStatsWith(docs, "doc_id", "text", loaded)
      .collect().map(_.toSeq).toSet
    assert(hydrated == direct)
  }

  test("hydrated merges segment out-of-training-vocabulary words too") {
    val train = Seq((1L, "aaab aaab ab")).toDF("doc_id", "text")
    val merges = Bpe.merges(train, "text", rounds = 4)
    // "zzz" was never seen: pure characters (3 tokens); "aaab" fully merges
    val corpus = Seq((1L, "aaab zzz")).toDF("doc_id", "text")
    val r = Bpe.encodeStatsWith(corpus, "doc_id", "text", merges)
      .collect().head
    // (n_words, n_chars, n_tokens) = (2, 7, 1 + 3)
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((2L, 7L, 4L)))
  }

  test("per-row tokenStats equals the vocabulary-join encode path") {
    // the streaming-safe expression and the batch join are the same
    // function of each word; zero-token docs count zeros per-row where the
    // join path leaves them absent
    val train = Seq((1L, "aaab aaab ab")).toDF("doc_id", "text")
    val merges = Bpe.merges(train, "text", rounds = 8)
    val docs = Seq((1L, "aaab zz ab aaab"), (2L, "xyz"), (3L, ""))
      .toDF("doc_id", "text")
    val perRow = docs
      .withColumn("s", Bpe.tokenStats(col("text"), merges))
      .select(col("doc_id"), col("s.n_words"), col("s.n_chars"),
        col("s.n_tokens"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val joined = Bpe.encodeStatsWith(docs, "doc_id", "text", merges)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(perRow(3L) == ((0L, 0L, 0L)))
    assert(joined.forall { case (id, s) => perRow(id) == s })
    assert(joined.keySet == Set(1L, 2L))
    // the codegen'd fast path (functions.BpeStats) must land identically
    // on every row: merging words, open-vocabulary fallback, the empty doc
    val fast = docs
      .withColumn("s", Bpe.tokenStatsFast(col("text"), merges))
      .select(col("doc_id"), col("s.n_words"), col("s.n_chars"),
        col("s.n_tokens"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(fast == perRow, "tokenStatsFast drifted from the reference fold")
  }

  test("loadTokenizer rejects a foreign artifact") {
    val p = Files.createTempDirectory("graft_bpe").resolve("bad.json")
    Files.writeString(p, """{"kind": "standard_scaler", "version": 3}""")
    val e = intercept[IllegalArgumentException] {
      Bpe.loadTokenizer(p.toString)
    }
    assert(e.getMessage.contains("bpe_tokenizer"))
  }

  test("single-character vocabulary exhausts immediately") {
    val docs = Seq("a b c", "b c a").toDF("text")
    // every word is one symbol: zero pairs, zero merges
    assert(Bpe.merges(docs, "text", rounds = 3).isEmpty)
  }

  test("per-round plan: one partial aggregate + TakeOrdered, constant across rounds") {
    val docs = Seq("aaab aaab ab", "aaab ab ab").toDF("text")
    def skeleton(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
        .linesIterator.dropWhile(_.startsWith("=="))
        .takeWhile(_.trim.nonEmpty).mkString("\n")
    var vocab = Bpe.initVocab(docs, "text")
    val round1 = skeleton(Bpe.bestPair(vocab))
    assert(round1.contains("TakeOrderedAndProject"),
      "top-1 must plan as TakeOrdered, not a global sort")
    assert(!round1.contains("Sort "), "no global sort stage")
    val shuffles1 = round1.linesIterator.count(_.contains("Exchange"))
    // drive three real rounds; the plan rooted at the round's checkpoint
    // must keep the same shuffle count — no growth with rounds
    (1 to 3).foreach { _ =>
      val best = Bpe.bestPair(vocab).collect().head
      vocab = vocab.withColumn("syms",
        Bpe.applyMerge(col("syms"), best.getString(0), best.getString(1)))
        .localCheckpoint(eager = false)
    }
    val round4 = skeleton(Bpe.bestPair(vocab))
    val shuffles4 = round4.linesIterator.count(_.contains("Exchange"))
    assert(shuffles4 == shuffles1,
      s"per-round shuffle count grew: $shuffles1 -> $shuffles4\n$round4")
    assert(round4.contains("Scan ExistingRDD"),
      "round plans must root at the previous round's checkpoint")
  }

  // --- WordPiece (the third tokenizer family) -------------------------------

  test("wordpiece: likelihood score beats raw count; ## markers fold") {
    import spark.implicits._
    // "xy" dominates by PAIR COUNT (10 vs 1) but its symbols are equally
    // frequent, so its score is 10/(10*10) = 0.1; the rare "zq" pair
    // scores 1/(1*1) = 1.0 — WordPiece must pick (z, ##q) where BPE picks
    // (x, ##y)
    val docs = (Seq.fill(10)("xy") ++ Seq("zq")).zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val wp = graft.operators.WordPiece.train(docs, "text", 1)
    val (rnd, l, r, cnt, lc, rc) = wp.merges.head
    assert((rnd, l, r, cnt, lc, rc) == (1, "z", "##q", 1L, 1L, 1L))
    val bpe = graft.operators.Bpe.merges(docs, "text", 1).head
    assert((bpe._2, bpe._3) == ("x", "y"), "BPE picks the frequent pair")
    // the merged symbol drops the continuation marker
    val zq = wp.vocab.filter(col("w") === "zq").head().getString(1)
    assert(zq == "zq")
  }

  test("wordpiece: marker semantics through multi-round merges") {
    import spark.implicits._
    val docs = Seq((1L, "abc abc abc")).toDF("doc_id", "text")
    val m = graft.operators.WordPiece.train(docs, "text", 2)
    // round 1 merges one adjacent pair of "a ##b ##c"; round 2 finishes
    // the word — the final segmentation is the whole word, marker-free
    // at the word start
    assert(m.merges.length == 2)
    val syms = m.vocab.filter(col("w") === "abc").head().getString(1)
    assert(syms == "abc", s"fully merged, got '$syms'")
  }

  test("wordpiece artifact: save/load round trip + open-vocabulary encode") {
    import spark.implicits._
    import graft.operators.WordPiece
    val train = Seq((1L, "abc abc abc ab"), (2L, "abc ab xz"))
      .toDF("doc_id", "text")
    val merges = WordPiece.train(train, "text", 3).merges
    val path = java.nio.file.Files
      .createTempDirectory("graft_wp").resolve("tok.json").toString
    WordPiece.saveTokenizer(path, merges)
    val loaded = WordPiece.loadTokenizer(path)
    assert(loaded == merges, "the JSON round trip must be lossless")

    // encode a corpus containing a word the training corpus NEVER saw:
    // it still segments — initial char + ## continuations + whichever
    // stored merges apply (no [UNK] sink)
    val apply = Seq((10L, "abc abqq")).toDF("doc_id", "text")
    val enc = WordPiece.encodeStatsWith(apply, "doc_id", "text", loaded)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).head
    val (nWords, nChars, nTokens) = enc
    assert(nWords == 2L && nChars == 7L)
    // "abc" merged fully (1 token); "abqq" is OOV — its chars init as
    // "a ##b ##q ##q", the stored (a,##b)/(ab,##c)-style merges apply
    // where they match, and the remainder stays character-segmented
    assert(nTokens < nChars, s"merges must bite on the OOV word: $enc")
    // wrong-kind artifact fails loudly
    intercept[IllegalArgumentException] {
      graft.operators.Bpe.loadTokenizer(path)
    }
  }

  test("wordpiece longest-match: greedy walk, [UNK] contract, piece vocab") {
    import graft.operators.WordPiece
    import graft.functions.WordPieceLmm
    // corpus chosen so the trained pieces are known: "abab abab ab cd"
    val train = Seq((1L, "abab abab ab cd")).toDF("doc_id", "text")
    val model = WordPiece.train(train, "text", 8)
    val (headP, contP) = WordPiece.pieceVocab(train, "text", model.merges)
    // fully-merged words are single pieces; their letters appear as
    // head/continuation pieces only where a round left them unmerged
    assert(headP.contains("abab") && headP.contains("ab") &&
      headP.contains("cd"))
    val fn = (w: org.apache.spark.sql.Column) =>
      column(WordPieceLmm(expression(w), headP, contP))
    def seg(w: String) = Seq(w).toDF("w")
      .select(fn(array(col("w"))).as("s"))
      .select(col("s.n_tokens"), col("s.n_unk")).collect().head
    // exact-vocab words: one piece, no unk
    assert(seg("abab").toSeq == Seq(1L, 0L))
    assert(seg("ab").toSeq == Seq(1L, 0L))
    // maximal munch: "ababab" takes "abab" then needs ##-pieces for "ab";
    // whether it survives depends on the trained cont pieces — but it must
    // NEVER throw, and unk implies exactly one token
    val r = seg("ababab")
    assert(r.getLong(1) == 0L || r.getLong(0) == 1L)
    // a word with an out-of-alphabet char is one [UNK]
    assert(seg("xyz").toSeq == Seq(1L, 1L))
    // empty piece sets: everything is [UNK]
    val e = Seq("aa").toDF("w")
      .select(column(WordPieceLmm(expression(array(col("w"))), Seq.empty,
        Seq.empty)).as("s"))
      .select(col("s.n_tokens"), col("s.n_unk")).collect().head
    assert(e.toSeq == Seq(1L, 1L))
  }

  test("wordpiece longest-match never splits a surrogate pair") {
    import graft.operators.WordPiece
    import graft.functions.WordPieceLmm
    val emoji = new String(Character.toChars(0x1F600))
    val train = Seq((1L, s"a$emoji a$emoji ${emoji}b")).toDF("doc_id", "text")
    val model = WordPiece.train(train, "text", 4)
    val (headP, contP) = WordPiece.pieceVocab(train, "text", model.merges)
    // every piece is whole code points — no lone surrogate ever appears
    (headP ++ contP).foreach { p =>
      assert(!Character.isLowSurrogate(p.charAt(0)) &&
        !Character.isHighSurrogate(p.charAt(p.length - 1)),
        s"piece '$p' is surrogate-cut")
    }
    val fn = (w: org.apache.spark.sql.Column) =>
      column(WordPieceLmm(expression(w), headP, contP))
    val r = Seq(s"a${emoji}b").toDF("w")
      .select(fn(array(col("w"))).as("s"))
      .select(col("s.n_words"), col("s.n_chars"), col("s.n_tokens"),
        col("s.n_unk")).collect().head
    assert(r.getLong(0) == 1L && r.getLong(1) == 3L)
  }

  test("WordPieceStats per-row fold equals the vocabulary-join encode") {
    import spark.implicits._
    import graft.operators.WordPiece
    // merges trained on one corpus, applied per row to ANOTHER (so the
    // open-vocabulary path is exercised); the per-row codegen'd fold must
    // land exactly where the tf-compressed vocabulary join lands, word by
    // word — the streaming tokenize step's equality contract
    val train = Seq((1L, "abc abc abc abab xyz")).toDF("doc_id", "text")
    val merges = WordPiece.train(train, "text", 4).merges
    val apply = Seq((10L, "abc abab"), (11L, "xyz qq abc"), (12L, "a"))
      .toDF("doc_id", "text")
    val joined = WordPiece.encodeStatsWith(apply, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val perRow = apply.select(col("doc_id"),
        WordPiece.tokenStatsFast(col("text"), merges).as("s"))
      .select(col("doc_id"), col("s.n_words"), col("s.n_chars"),
        col("s.n_tokens"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(perRow == joined, s"per-row $perRow vs join $joined")
  }
}
