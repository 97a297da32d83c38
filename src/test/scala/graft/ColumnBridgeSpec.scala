package graft

import org.apache.spark.sql.functions._

import graft.operators.{Bpe, Dedup, Retrieval, WordPiece}

/** graft builds its codegen'd expressions as Columns through
  * `org.apache.spark.sql.GraftColumnBridge`, never through the session's
  * function registry: fitted state rides the expression itself, so two
  * differently-fitted columns cannot resolve to one registered name.
  */
class ColumnBridgeSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("tokenStatsFast columns over hash-colliding merge tables keep their own table") {
    // "buzzards" and "righto" share a String.hashCode, so these two tables
    // have equal Seq hashes: they differ only in the last merge's left piece
    assert("buzzards".hashCode == "righto".hashCode)
    val w = "buzzards"
    // merges b+u, bu+z, ... buzzard+s build the word one code point at a time
    val build = (1 until w.length).map(i => (i, w.take(i), w.substring(i, i + 1), 1L))
    val tableA = build :+ ((w.length, "buzzards", "x", 1L))
    val tableB = build :+ ((w.length, "righto", "x", 1L))
    assert(tableA.map(m => (m._2, m._3)).hashCode ==
      tableB.map(m => (m._2, m._3)).hashCode)
    val docs = Seq("buzzardsx buzzards", "rightox").toDF("text")
    def stats(c: org.apache.spark.sql.Column) =
      docs.select(c.as("s")).select("s.*").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val both = docs.select(Bpe.tokenStatsFast(col("text"), tableA).as("a"),
        Bpe.tokenStatsFast(col("text"), tableB).as("b"))
      .collect().map(r => (r.getStruct(0), r.getStruct(1)))
      .map { case (a, b) =>
        ((a.getLong(0), a.getLong(1), a.getLong(2)),
          (b.getLong(0), b.getLong(1), b.getLong(2)))
      }.toSeq
    assert(both.map(_._1) == stats(Bpe.tokenStats(col("text"), tableA)))
    assert(both.map(_._2) == stats(Bpe.tokenStats(col("text"), tableB)))
    // the tables really disagree: "buzzardsx" is one token only under A
    assert(both.head._1._3 == 2L && both.head._2._3 == 3L)
  }

  test("dedup, tokenize, bm25 and percolate leave the function registry unchanged") {
    def registry = spark.sessionState.functionRegistry.listFunction().toSet
    val before = registry
    val docs = graft.sources.Tables.documents(spark, sf)
    Dedup.dupClusters(docs, "text", "doc_id").collect()
    val merges = Bpe.merges(docs, "text", 4)
    val wpMerges = WordPiece.train(docs, "text", 4).merges
    docs.select(Bpe.tokenStatsFast(col("text"), merges),
      WordPiece.tokenStatsFast(col("text"), wpMerges)).collect()
    SparkEntry.queries("bm25_topk")(spark, sf).collect()
    Retrieval.percolateBatch(docs, 20L, 0.875).collect()
    assert(registry == before,
      s"added ${registry -- before}, removed ${before -- registry}")
  }
}
