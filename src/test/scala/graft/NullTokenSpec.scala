package graft

import org.apache.spark.sql.GraftColumnBridge.{column, expression}

import graft.functions.{Bm25Scores, BpeStats, PercolateScores, TileScores}

/** Null-element semantics of the fitted fold expressions: they accept
  * array<string> with containsNull=true (checkInputDataTypes allows it), so
  * a null token must be DEFINED — skipped, excluded from any
  * length/denominator — not an executor NPE. In-repo callers only feed
  * split() output (never null elements); these pin the contract for
  * library users building the expressions directly.
  */
class NullTokenSpec extends SparkSpec {
  import spark.implicits._

  private def toksDf = Seq(
    (1L, Seq[String]("alpha", null, "beta", "alpha")),
    (2L, Seq[String](null, null))
  ).toDF("id", "toks")

  private def bm25(qid: Long) = column(Bm25Scores(expression($"toks"),
    terms = Seq("alpha"), idfs = Seq(1.0), masks = Seq(1L),
    qids = Seq(qid), avgdl = 3.0))

  test("PercolateScores skips null tokens") {
    val fn = column(PercolateScores(expression($"toks"),
      Seq((7L, Seq("alpha" -> 1.0, "gamma" -> 1.0), 0.5))))
    val out = toksDf.select($"id", fn.as("acc"))
      .collect().sortBy(_.getLong(0))
    // doc 1: alpha matched once (distinct), null ignored
    assert(out(0).getSeq[Long](1) == Seq(1000000L) ||
      out(0).getSeq[Long](1).head > 0L)
    // doc 2: all-null → zero accumulation, no NPE
    assert(out(1).getSeq[Long](1).head == 0L)
  }

  test("Bm25Scores skips null tokens and excludes them from doc length") {
    val fn = bm25(3L)
    val withNull = toksDf.where($"id" === 1L)
      .select(fn.as("s")).collect().head.getSeq[Any](0)
    val noNull = Seq((1L, Seq("alpha", "beta", "alpha"))).toDF("id", "toks")
      .select(fn.as("s")).collect().head.getSeq[Any](0)
    // identical scores: the null token neither matches nor counts toward dl
    assert(withNull == noNull)
    // all-null doc: no matched terms, empty result, no NPE
    val empty = toksDf.where($"id" === 2L)
      .select(fn.as("s")).collect().head.getSeq[Any](0)
    assert(empty.isEmpty)
  }

  test("Bm25Scores fitted on distinct qids score independently in one select") {
    val r = toksDf.where($"id" === 1L)
      .select(bm25(1L).as("a"), bm25(2L).as("b"))
      .select($"a".getItem(0).getField("qid"), $"b".getItem(0).getField("qid"))
      .collect().head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
  }

  test("BpeStats skips null words everywhere (count, chars, tokens)") {
    val fn = column(BpeStats(expression($"toks"), Seq("a" -> "b")))
    val r = toksDf.where($"id" === 1L)
      .select(fn.as("s")).select("s.*")
      .collect().head
    assert(r.getLong(0) == 3L) // alpha, beta, alpha — null not counted
    assert(r.getLong(1) == 14L) // 5 + 4 + 5 chars
  }

  test("TileScores treats null tokens as vocabulary-free positions") {
    val r = Seq((1L, Seq[String]("x", null, null, "y")))
      .toDF("id", "toks")
      .select(column(TileScores(expression($"toks"), b = 2)).as("s"))
      .collect().head.getSeq[org.apache.spark.sql.Row](0)
    // one boundary at p=2: left={x}, right={y} → cohesion 0, not NaN
    assert(r.length == 1 && r.head.getDouble(1) == 0.0)
  }
}
