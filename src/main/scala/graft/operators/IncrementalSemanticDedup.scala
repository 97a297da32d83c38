package graft.operators

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cross-run incremental SEMANTIC dedup — [[IncrementalDedup]]'s
  * rebuild-only-stale discipline (reference: artifacts/planning.py:40,
  * artifacts/executor.py run_build_if_needed) applied to the SemDeDup
  * embedding index instead of the minhash text index. A training pipeline
  * re-embeds each crawl increment and must cluster it against the existing
  * corpus without re-bucketing the corpus's vectors; this module persists
  * the per-vector LSH state as a generation-append index:
  *
  * {{{
  * indexDir/
  *   reps/gen=N/     (vd, rep_id): the NEW distinct NONZERO vectors
  *                   generation N introduced (vd = sha256 of the
  *                   double-cast vector)
  *   members/gen=N/  (id, rep_id): EVERY vector generation N ingested,
  *                   mapped to its value's representative
  *   vectors/gen=N/  (id, v, b) for generation N's new reps ONLY — the
  *                   double-cast vector and its pinned-plane bucket key,
  *                   stored so cross-run candidates verify exact cosine
  *                   without touching any earlier increment
  *   edges/gen=N/    verified cosine edges contributed by gen N
  *                   (within-new ∪ new-×-stored, reps only)
  *   meta.json       params + committed generations — written LAST,
  *                   atomically, so a crashed update is invisible
  * }}}
  *
  * Incrementality is the same TWO-LEVEL shape that holds on real crawls: an
  * increment vector whose value digest is already in the stored rep map
  * becomes a membership row and computes NOTHING; only new DISTINCT nonzero
  * vectors bucket, join the stored bucket keys for cross-run candidates,
  * and verify exact cosine on candidates. Stored generations are read,
  * never recomputed or rewritten. Updates are idempotent by generation key;
  * parameter drift fails loudly — and unlike the single-shot
  * [[Similarity.semanticClusters]], the plane count here MUST be pinned in
  * the index params: bucket keys are only comparable across generations
  * under one hyperplane set, so the adaptive-plane rule applies once, when
  * the index is created for the corpus's anticipated scale. Zero vectors
  * are their own representatives and never enter the rep map: their
  * pairwise cosine is NaN, so identical zero vectors must stay separate
  * singletons, exactly as semanticClusters leaves them.
  *
  * [[clusters]] equals from-scratch [[Similarity.semanticClusters]] (same
  * planes) on the union corpus: identical vectors carry identical buckets
  * and cosines, so which id represents a vector group cannot change the
  * verified edge set between groups; membership attaches every id, and
  * cluster_id/size recompute as min-id/count over the component's members.
  *
  * Scale posture: the index is O(distinct vectors) parquet; an update's
  * work is O(increment) digests + O(new distinct vectors) bucket
  * signatures + bucket collisions against the index — never O(corpus).
  * Each vector has ONE bucket key (not minhash bands), so the cross-run
  * join degree is bounded by bucket occupancy, which the pinned plane
  * count sizes for the corpus's target scale.
  */
object IncrementalSemanticDedup {

  final case class Params(planes: Int = 6, dim: Int = 64,
                          threshold: Double = 0.95)

  final case class Generation(gen: Int, key: String, nVecs: Long)

  final case class Meta(idCol: String, vecCol: String, params: Params,
                        gens: Seq[Generation])

  /** newVectors counts the bucket signatures this update computed = the NEW
    * distinct nonzero vectors — an exact-re-crawl increment reports 0.
    */
  final case class UpdateReport(gen: Int, newVectors: Long,
                                newEdges: Long, skipped: Boolean)

  private def metaFile(indexDir: Path): Path = indexDir.resolve("meta.json")
  private def dir(indexDir: Path, kind: String, gen: Int): Path =
    indexDir.resolve(kind).resolve(s"gen=$gen")

  // ---------------------------------------------------------------- meta io

  private def saveMeta(indexDir: Path, m: Meta): Unit = {
    import graft.sources.Runs.jsonStr
    val gens = m.gens.sortBy(_.gen).map { g =>
      s"""{"gen": ${g.gen}, "key": ${jsonStr(g.key)}, "n_vecs": ${g.nVecs}}"""
    }.mkString("[", ", ", "]")
    val json =
      s"""{"version": 1, "id_col": ${jsonStr(m.idCol)},
         | "vec_col": ${jsonStr(m.vecCol)},
         | "planes": ${m.params.planes}, "dim": ${m.params.dim},
         | "threshold": ${m.params.threshold}, "gens": $gens}""".stripMargin
    Files.createDirectories(indexDir)
    val tmp = metaFile(indexDir).resolveSibling(
      s".meta-${java.util.UUID.randomUUID().toString.take(8)}.json.tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, metaFile(indexDir),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  def loadMeta(indexDir: Path): Option[Meta] = {
    if (!Files.exists(metaFile(indexDir))) return None
    val tree = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(metaFile(indexDir)))
    import scala.jdk.CollectionConverters._
    val gens = tree.get("gens").elements().asScala.map { g =>
      Generation(g.get("gen").asInt(), g.get("key").asText(),
        g.get("n_vecs").asLong())
    }.toSeq
    Some(Meta(tree.get("id_col").asText(), tree.get("vec_col").asText(),
      Params(tree.get("planes").asInt(), tree.get("dim").asInt(),
        tree.get("threshold").asDouble()), gens))
  }

  // ---------------------------------------------------------------- update

  /** Ingest one increment under `genKey`. Stored generations are read-only
    * inputs; bucket signatures are computed for the increment's NEW
    * DISTINCT nonzero vectors only. Re-submitting a committed key skips
    * all work.
    */
  def update(spark: SparkSession, indexDir: Path, increment: DataFrame,
             vecCol: String, idCol: String, genKey: String,
             params: Params = Params()): UpdateReport =
    graft.sources.Hygiene.withFileLock(
      indexDir.resolve("_system").resolve("index.lock"),
      s"Another graft semantic-index update is using '$indexDir'.") {
      updateLocked(spark, indexDir, increment, vecCol, idCol, genKey, params)
    }

  private def updateLocked(spark: SparkSession, indexDir: Path,
                           increment: DataFrame, vecCol: String,
                           idCol: String, genKey: String,
                           params: Params): UpdateReport = {
    val meta = loadMeta(indexDir)
    meta.foreach { m =>
      require(m.params == params && m.idCol == idCol && m.vecCol == vecCol,
        s"semantic index '$indexDir' was built with ${m.params} over " +
          s"(${m.idCol}, ${m.vecCol}); refusing to mix with $params over " +
          s"($idCol, $vecCol) — bucket keys would be incomparable")
    }
    meta.flatMap(_.gens.find(_.key == genKey)) match {
      case Some(g) => UpdateReport(g.gen, 0L, 0L, skipped = true)
      case None    => ingest(spark, indexDir, increment, vecCol, idCol,
        genKey, params, meta)
    }
  }

  private def ingest(spark: SparkSession, indexDir: Path,
                     increment: DataFrame, vecCol: String, idCol: String,
                     genKey: String, params: Params,
                     meta: Option[Meta]): UpdateReport = {
    val gen = meta.map(_.gens.map(_.gen).max + 1).getOrElse(1)
    val storedGens = meta.map(_.gens.map(_.gen)).getOrElse(Nil)
    def storedUnion(kind: String): Option[DataFrame] = storedGens match {
      case Nil  => None
      case gens => Some(spark.read.parquet(
        gens.map(g => dir(indexDir, kind, g).toString): _*))
    }

    // value digest + collapsibility once per vector (double-cast first so
    // an index over float embeddings digests the same bytes the stored
    // vectors hold); the frame feeds the rep join, the member map and the
    // new-rep bucket build
    val inc = increment.select(col(idCol),
      Similarity.toDouble(col(vecCol)).as("__v"))
      .withColumn("__vd", sha2(concat_ws(",", col("__v").cast("array<string>")), 256))
      .withColumn("__ok", Similarity.dotF(col("__v"), col("__v")) > 0.0)
      .localCheckpoint(eager = false)

    // LEVEL 1: vectors whose value the index already knows become
    // membership rows — zero bucket work. (Only nonzero vectors live in
    // the rep map, so a digest match implies a collapsible vector.)
    val storedReps = storedUnion("reps")
    val joined = storedReps match {
      case None     => inc.withColumn("rep_id", lit(null).cast("long"))
      case Some(sr) => inc.join(sr, Seq("__vd"), "left")
    }
    val matched = joined.where(col("rep_id").isNotNull)
      .select(col(idCol), col("rep_id"))
    // LEVEL 2: new values collapse to a min-id representative per digest;
    // zero vectors are their own reps and never join the map
    val byVd = Window.partitionBy(col("__vd"))
    val fresh = joined.where(col("rep_id").isNull)
      .select(col(idCol), col("__v"), col("__vd"), col("__ok"),
        when(col("__ok"), min(col(idCol)).over(byVd))
          .otherwise(col(idCol)).as("__rep"))
      .localCheckpoint(eager = false) // feeds reps, members AND vectors
    val newRepDocs = fresh
      .where(col(idCol) === col("__rep") && col("__ok"))

    // the ONLY bucket computation this update runs — written first
    // (invisible until the meta commit), read back so candidates and
    // verification reuse the stored bytes
    newRepDocs.select(col(idCol), col("__v").as("v"),
      Similarity.lshSignature(col("__v"), params.planes, params.dim).as("b"))
      .write.mode("overwrite").parquet(dir(indexDir, "vectors", gen).toString)
    val myVecs = spark.read.parquet(dir(indexDir, "vectors", gen).toString)
    // footer-count audit, not a Spark job (see IncrementalDedup.ingest)
    val nNew = graft.sources.ParquetMeta.rowCount(spark,
      dir(indexDir, "vectors", gen))

    // candidates: within the new reps (id_a < id_b) plus cross-run — new
    // bucket keys join the STORED vectors; each vector carries ONE bucket
    // key, so every candidate pair arises exactly once and the degree is
    // bounded by bucket occupancy. The corpus never re-buckets.
    def side(f: DataFrame, as: String): DataFrame =
      f.select(col(idCol).as(s"id_$as"), col("v").as(s"v$as"), col("b"))
    def verified(pairs: DataFrame): DataFrame = pairs
      .where(Similarity.cosineF(col("va"), col("vb")) >= params.threshold)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
    val within = verified(
      side(myVecs, "a").join(side(myVecs, "b"), Seq("b"))
        .filter(col("id_a") < col("id_b")))
    val edges = storedUnion("vectors") match {
      case None     => within
      case Some(st) =>
        within.unionByName(verified(side(myVecs, "a").join(side(st, "b"), Seq("b"))))
    }
    // reps, members and edges are independent writes over state the
    // vectors write already materialized — overlap them (guide §2.6, see
    // IncrementalDedup.ingest)
    graft.sources.Hygiene.overlap(
      () => newRepDocs.select(col("__vd"), col(idCol).as("rep_id"))
        .write.mode("overwrite").parquet(dir(indexDir, "reps", gen).toString),
      () => matched
        .unionByName(fresh.select(col(idCol), col("__rep").as("rep_id")))
        .write.mode("overwrite")
        .parquet(dir(indexDir, "members", gen).toString),
      () => edges.write.mode("overwrite")
        .parquet(dir(indexDir, "edges", gen).toString))
    val nEdges = graft.sources.ParquetMeta.rowCount(spark,
      dir(indexDir, "edges", gen))

    // members is a partition of the increment (matched ∪ fresh), so n_docs
    // is its footer count — no increment re-scan
    saveMeta(indexDir, Meta(idCol, vecCol, params,
      meta.map(_.gens).getOrElse(Nil) :+
        Generation(gen, genKey,
          graft.sources.ParquetMeta.rowCount(spark,
            dir(indexDir, "members", gen)))))
    UpdateReport(gen, nNew, nEdges, skipped = false)
  }

  // --------------------------------------------------------------- clusters

  /** Semantic duplicate clusters over EVERYTHING the index has ingested —
    * equal to [[Similarity.semanticClusters]] (same pinned planes) run from
    * scratch on the union corpus: connected components over the rep edge
    * graph, membership attach, then cluster_id = min member id and
    * cluster_size = member count per component (recomputed over members, so
    * the labeling is exact whatever the id ordering across generations).
    */
  def clusters(spark: SparkSession, indexDir: Path): DataFrame = {
    val m = loadMeta(indexDir).getOrElse(throw new IllegalArgumentException(
      s"semantic index '$indexDir' has no committed generations"))
    val gens = m.gens.map(_.gen)
    def read(kind: String): DataFrame =
      spark.read.parquet(gens.map(g => dir(indexDir, kind, g).toString): _*)
    val members = read("members")
    val edges = read("edges")
    val nodes = members.select(col("rep_id").as(m.idCol)).distinct()
    val repLabels = Dedup.connectedComponents(nodes, edges, m.idCol)
      .select(col(m.idCol).as("rep_id"), col("cluster_id").as("__lab"))
    val byLab = Window.partitionBy(col("__lab"))
    members.join(repLabels, Seq("rep_id"))
      .select(col(m.idCol),
        min(col(m.idCol)).over(byLab).as("cluster_id"),
        count(lit(1)).over(byLab).as("cluster_size"))
      .withColumn("is_canonical", col(m.idCol) === col("cluster_id"))
  }
}
