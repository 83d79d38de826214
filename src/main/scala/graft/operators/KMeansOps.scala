package graft.operators

import graft.{GQuery, Materialize, Tables}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** K-means (Lloyd's) coarse-quantizer training over the `embeddings` table,
  * and the trained-IVF ANN query it feeds — the "train the index, then search
  * it" half that `ann_ivf_label_topk` (SimilarityOps.scala) stubs with the
  * pre-assigned `label` column.
  *
  * Every iteration is exact integer arithmetic so DuckDB reproduces the model
  * bit-for-bit (no FP summation-order risk):
  *
  *  - points quantize once: `qv[i] = floor(x_i * 10^4)` as BIGINT (float →
  *    double cast is exact; the product and floor are IEEE-deterministic);
  *  - assignment: `argmin_c Σ(qv_i − cv_i)²` with ties broken by centroid id
  *    via the composite `dist·1000 + cid` (dist ≤ 64·6000² ≈ 2.3e9, so the
  *    composite stays far under 2^53 and is computed exactly in doubles
  *    through the codegen'd graft_dot identity ‖x−c‖² = x·x − 2x·c + c·c);
  *  - update: per-dimension integer mean `floorDiv(Σqv_i, n)`; an empty
  *    cluster keeps its previous centroid (n = 0).
  *
  * Input domain (exactness bound): the binding budget is the composite
  * argmin `dist·1000 + cid`, which is exact only while it stays under
  * 2⁵³ in doubles — dist ≤ 9·10¹², i.e. per-dimension |Δqv| ≤ 3.7·10⁵,
  * i.e. component magnitudes |x| ≲ 15 after the e4 quantization (two
  * opposite-extreme components double the Δ). Beyond that the double
  * argmin can pick a different centroid than DuckDB's exact integer
  * one (observed with a ±10³ probe: one flipped assignment cascades
  * into different centroids); far beyond (|x| ≳ 3·10⁴) the qq sum
  * overflows BIGINT outright and ANSI mode throws CAST_OVERFLOW rather
  * than corrupting silently (observed with a ±10⁶ probe). Real
  * embedding pipelines normalize to |x| ≈ 1, an order of magnitude
  * inside the exactness bound; SelfcheckHostile pins a ±10 probe.
  *
  * Scale shape (the MLlib KMeans pattern): the corpus NEVER reaches the
  * driver — each iteration is one row-local assignment map (centroids
  * broadcast as literals) plus one (cid, dim)-keyed partial aggregation;
  * only the K×64-long model state is collected between iterations. The
  * quantized corpus is staged once per dataset (Materialize.stageShared,
  * memoized in [[stagedPts]]) so T iterations do not re-read parquet T
  * times.
  */
object KMeansOps {

  val K = 8
  val Iters = 3
  val QuantScale = 10000
  val Dims = 64
  /** Composite argmin base: dist·CompBase + cid is unique and orders
    * lexicographically by (dist, cid) as long as cid < CompBase. */
  val CompBase = 1000L

  /** vec_id, v (double), nrm, qv (quantized BIGINT), qvd, qq = qv·qv,
    * qvx = qvd ++ [1.0] (the affine extension withCid dots against). */
  private[graft] def quantized(s: SparkSession, d: String): DataFrame =
    DedupOps.normalizedVecs(s, d)
      .withColumn("qv", transform(col("v"), x => floor(x * QuantScale)))
      .withColumn("qvd", transform(col("qv"), _.cast("double")))
      .withColumn("qq", call_function("graft_dot", col("qvd"), col("qvd")))
      .withColumn("qvx", concat(col("qvd"), array(lit(1.0))))

  /** The STAGED quantized frame, memoized per dataset — six queries
    * across the trained-index family (kmeans, IVF ×2, PQ, IVFADC) walk
    * it for training passes and search sides, and at 100 TB it is one
    * shared index-build intermediate, not a per-query checkpoint.
    * Fingerprint-keyed like every index artifact (an in-place testdata
    * rewrite invalidates it). */
  private val stagedQuantized = new graft.DatasetMemo[DataFrame]()
  private[operators] def stagedPts(s: SparkSession, d: String): DataFrame =
    stagedQuantized.get(s, d, "embeddings.parquet")(
      Materialize.stageShared(quantized(s, d)))

  /** Row-local nearest-centroid assignment against literal centroids.
    * All arithmetic integer-valued (exact in double — see object doc).
    *
    * Each centroid enters as ONE referenced array literal in affine form
    * ext = (−2·cv) ++ [c·c], so dist = qq + graft_dot(qvx, ext): the same
    * integer-valued terms as qq − 2·(qv·cv) + c·c (every partial sum far
    * below 2^53, so order is irrelevant), but with NO per-iteration scalar
    * inlined into the generated source. Array literals land in the codegen
    * `references` array, so every Lloyd's iteration (and the final search
    * assignment) reuses ONE compiled projection — the literal-cc form
    * recompiled the whole K-way least() per iteration, which dominated this
    * query's bench time.
    */
  private def compCols(cents: Seq[(Int, Array[Long])],
                       qq: Column = col("qq"),
                       qvx: Column = col("qvx")): Seq[Column] =
    cents.map { case (cid, cv) =>
      val cc = cv.map(x => x * x).sum.toDouble
      val ext = cv.map(x => -2.0 * x).toSeq :+ cc
      val dist = qq + call_function("graft_dot", qvx, typedLit(ext))
      dist * lit(CompBase.toDouble) + lit(cid.toDouble)
    }

  /** Nearest-centroid id as a standalone column over caller-supplied
    * (qq, qvx) inputs — the row-local assignment [[withCid]] binds to the
    * standard column names, exposed so a product-quantization encoder
    * ([[PqOps]]) can compute M sub-space codes in ONE projection without
    * reshaping the frame M times. Dispatches exactly like [[withCid]]:
    * inline least() tree up to [[InlineAssignMaxK]], the
    * `graft_argmin_centroid` kernel above it (Janino's 64 KB method limit
    * — see [[InlineAssignMaxK]]). */
  private[operators] def codeExpr(qq: Column, qvx: Column,
                                  cents: Seq[(Int, Array[Long])]): Column =
    if (cents.size <= InlineAssignMaxK)
      least(compCols(cents, qq, qvx): _*).cast("long") % CompBase
    else {
      val ordered = cents.sortBy(_._1)
      val exts = ordered.map { case (_, cv) =>
        cv.map(x => -2.0 * x).toSeq :+ cv.map(x => x * x).sum.toDouble
      }
      call_function("graft_argmin_centroid", qvx, qq,
        typedLit(ordered.map(_._1.toLong)), typedLit(exts))
    }

  /** Above this k the inline `least(graft_dot…)` tree exceeds Janino's
    * 64 KB generated-method limit (hard job abort measured at k = 256);
    * the kernel path carries k in a referenced matrix instead of in the
    * generated source. Both paths are bit-identical (KMeansSpec pins it
    * at the registry k on the testbed). */
  private val InlineAssignMaxK = 16

  private[graft] def withCid(pts: DataFrame, cents: Seq[(Int, Array[Long])]): DataFrame =
    if (cents.size <= InlineAssignMaxK) withCidInline(pts, cents)
    else withCidKernel(pts, cents)

  private[graft] def withCidInline(pts: DataFrame,
                                   cents: Seq[(Int, Array[Long])]): DataFrame =
    pts.withColumn("cid", least(compCols(cents): _*).cast("long") % CompBase)

  private[graft] def withCidKernel(pts: DataFrame,
                                   cents: Seq[(Int, Array[Long])]): DataFrame = {
    graft.functions.VectorExpressions.ensureRegistered(pts.sparkSession)
    val ordered = cents.sortBy(_._1)
    val exts = ordered.map { case (_, cv) =>
      cv.map(x => -2.0 * x).toSeq :+ cv.map(x => x * x).sum.toDouble
    }
    pts.withColumn("cid", call_function("graft_argmin_centroid",
      col("qvx"), col("qq"),
      typedLit(ordered.map(_._1.toLong)), typedLit(exts)))
  }

  /** Per-(cluster, dimension) sums + cluster sizes — the map-side-combinable
    * update aggregation. pos is 1-based to match the oracle's list indexing. */
  private def sums(asg: DataFrame): DataFrame =
    asg.select(col("cid"), posexplode(col("qv")).as(Seq("pos0", "x")))
      .groupBy(col("cid"), (col("pos0") + 1).as("pos"))
      .agg(sum("x").as("s"), count(lit(1)).as("n"))

  /** Driver-side centroid refresh from the collected (cid, pos, s, n) rows.
    * Empty clusters keep their previous centroid with n = 0. */
  private def nextCents(prev: Seq[(Int, Array[Long], Long)],
                        rows: Array[Row],
                        dims: Int): Seq[(Int, Array[Long], Long)] = {
    val byCid = rows.groupBy(_.getLong(0).toInt)
    prev.map { case (cid, cv, _) =>
      byCid.get(cid) match {
        case Some(rs) =>
          val arr = new Array[Long](dims)
          val n = rs.head.getLong(3)
          rs.foreach(r => arr(r.getInt(1) - 1) = Math.floorDiv(r.getLong(2), n))
          (cid, arr, n)
        case None => (cid, cv, 0L)
      }
    }
  }

  /** One Lloyd's model sequence: `states(i)` is the model after i
    * iterations (`states(0)` = the vec_id < k seeds), `key` its artifact
    * key. [[lloyd]] extends it under the holder's lock. */
  private final class LloydModel(val key: String,
                                 var states: Vector[Seq[(Int, Array[Long], Long)]])

  /** The Lloyd's model sequences, one per (dataset, k, dims, tag).
    * Training is deterministic, so a sequence is a pure function of the
    * dataset and every consumer shares one training run — kmeans_centroids
    * trains 2 iterations, the IVF search queries extend the SAME sequence
    * to 3 instead of retraining from scratch. The coarse quantizer is an
    * index artifact built once, not a per-query cost; cached state is
    * O(k·dims) longs per model. The dataset fingerprint in the memo key
    * keeps a harness that rewrites the dataset in place from being served
    * a model trained on the old data while the DuckDB oracle retrains on
    * the new. */
  private val models = new graft.DatasetMemo[LloydModel]()

  /** Cross-session persistence of the iteration-state sequence: one row
    * per (iteration, centroid), order restored from explicit columns. A
    * fresh session with `spark.graft.artifacts.dir` set loads the trained
    * sequence and only runs Lloyd iterations BEYOND what the persisted
    * model already has — the quantizer is an index artifact, and its
    * training cost should survive a driver restart (see
    * [[graft.ArtifactStore]]). */
  private val modelPersistence =
    graft.ArtifactStore.Persistence[Vector[Seq[(Int, Array[Long], Long)]]](
      "ivf_model",
      save = (spark, path, states) => {
        import spark.implicits._
        states.zipWithIndex
          .flatMap { case (st, it) =>
            st.map { case (cid, cv, cnt) => (it, cid, cv.toSeq, cnt) }
          }
          .toDF("iter", "cid", "cv", "cnt")
          .repartition(1).write.mode("overwrite").parquet(path)
      },
      load = (spark, path) => {
        val rows = spark.read.parquet(path)
          .select("iter", "cid", "cv", "cnt").collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2).toArray,
            r.getLong(3)))
        rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, rs) =>
          rs.sortBy(_._2).map(t => (t._2, t._3, t._4)).toSeq
        }.toVector
      })

  /** Lloyd's for `iters` iterations over the dataset at `d`. Seeds from
    * vec_id 0..k-1. Collects only the k×dims model state per iteration
    * (O(k·d), not O(n)); iterations already in the memoized (or persisted)
    * sequence are not re-run. */
  private[graft] def lloyd(pts: DataFrame, d: String, iters: Int,
                           k: Int = K, dims: Int = Dims,
                           tag: String = ""): Seq[(Int, Array[Long], Long)] = {
    require(k < CompBase, s"k=$k must stay below CompBase=$CompBase " +
      "(the composite argmin encodes cid in the low digits)")
    val spark = pts.sparkSession
    // k AND dims are part of the identity: a scale caller
    // (tools/IvfScaleSmoke trains k=256) must not collide with the
    // registry's k=8 model in either the in-process memo or the
    // persisted artifact, and two sub-space geometries of equal k on
    // the same dataset (e.g. M=4×16 vs M=8×8 PQ slicings) must not
    // share a codebook of the wrong width. `tag` extends the identity
    // the same way for sub-space models (the PQ trainer fits one
    // codebook per vector slice over the SAME dataset dir —
    // "-pq0".."-pqM"); full-space callers leave dims/tag defaulted.
    // The persisted directory name stays "<fp>-k<k>-d<dims><tag>".
    val model = models.keyed(spark, d, "embeddings.parquet",
        s"-k$k-d$dims$tag") { key =>
      new LloydModel(key,
        graft.ArtifactStore.load(spark, modelPersistence, d, key).getOrElse {
          Vector(pts.filter(col("vec_id") < k)
            .select(col("vec_id"), col("qv")).collect()
            .map(r => (r.getLong(0).toInt, r.getSeq[Long](1).toArray, 0L))
            .sortBy(_._1).toSeq)
        })
    }
    model.synchronized {
      if (model.states.length <= iters) {
        while (model.states.length <= iters) {
          val cur = model.states.last
          val rows = sums(withCid(pts, cur.map(c => (c._1, c._2)))).collect()
          model.states = model.states :+ nextCents(cur, rows, dims)
        }
        // REPLACE the persisted artifact: the model extends across
        // sessions, and a deeper state must supersede a shallower
        // persisted one or every fresh session permanently re-pays the
        // iterations beyond the first-ever persisted depth. The swap
        // publishes whole directories, so a racing reader sees old, new,
        // or missing-⇒rebuild — never a torn mix.
        graft.ArtifactStore.save(spark, modelPersistence, d, model.key,
          model.states, replace = true)
      }
      model.states(iters)
    }
  }

  // ---- oracle-side twin -----------------------------------------------------

  /** The quantization CTE alone (no seeds) — [[PqOps]] opens its oracle
    * with this and seeds each SUB-SPACE separately. */
  private[operators] val PtsOnlyCte =
    """WITH pts AS (
      |  SELECT vec_id,
      |         list_transform(embedding, x -> x::DOUBLE) AS v,
      |         sqrt(list_sum(list_transform(embedding,
      |           x -> x::DOUBLE * x::DOUBLE))) AS nrm,
      |         list_transform(embedding,
      |           x -> CAST(floor(x::DOUBLE * 10000) AS BIGINT)) AS qv
      |  FROM embeddings
      |  WHERE len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NULL)) = 0
      |    AND NOT isnan(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
    AND list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) < CAST('Infinity' AS DOUBLE)
    AND list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) > 0)""".stripMargin

  /** The quantization + seed CTEs shared by both full-space oracles. */
  private val PtsCte = PtsOnlyCte +
    ",\nc0 AS (SELECT vec_id AS cid, qv AS cv FROM pts WHERE vec_id < 8)"

  /** One unrolled Lloyd's iteration: assignment (cross join + argmin over the
    * dist·1000+cid composite), per-(cid,pos) sums, floor-div centroid update
    * with empty-cluster carry-forward — the exact integer twin of
    * withCid/sums/nextCents. `pfx` namespaces every intermediate CTE (and
    * the c-series it reads/extends), `dims`/`pts` retarget the iteration at
    * a sliced sub-space frame — defaults reproduce the full-space text
    * byte-for-byte. */
  private[operators] def iterCte(t: Int, pfx: String = "", dims: Int = Dims,
                                 pts: String = "pts"): String = {
    val p = t - 1
    s"""${pfx}d$t AS (
       |  SELECT p.vec_id,
       |         list_sum(list_transform(generate_series(1, $dims),
       |           i -> (p.qv[i] - c.cv[i]) * (p.qv[i] - c.cv[i]))) * $CompBase + c.cid AS comp
       |  FROM $pts p CROSS JOIN ${pfx}c$p c),
       |${pfx}a$t AS (
       |  SELECT p.vec_id, p.qv, CAST(m.comp % $CompBase AS BIGINT) AS cid
       |  FROM $pts p JOIN (SELECT vec_id, min(comp) AS comp FROM ${pfx}d$t GROUP BY vec_id) m
       |  USING (vec_id)),
       |${pfx}u$t AS (
       |  SELECT a.cid, g.pos, sum(a.qv[g.pos]) AS s, count(*) AS n
       |  FROM ${pfx}a$t a CROSS JOIN (SELECT unnest(generate_series(1, $dims)) AS pos) g
       |  GROUP BY a.cid, g.pos),
       |${pfx}c$t AS (
       |  SELECT ${pfx}c$p.cid, coalesce(u.cv, ${pfx}c$p.cv) AS cv, coalesce(u.n, 0) AS n
       |  FROM ${pfx}c$p LEFT JOIN (
       |    SELECT cid, list(CAST((s - ((s % n + n) % n)) // n AS BIGINT) ORDER BY pos) AS cv,
       |           CAST(min(n) AS BIGINT) AS n
       |    FROM ${pfx}u$t GROUP BY cid) u USING (cid))""".stripMargin
  }

  private def chain(iters: Int): String =
    PtsCte + "," + (1 to iters).map(t => iterCte(t)).mkString(",")

  // ---- queries --------------------------------------------------------------

  /** Q:kmeans_centroids — the trained coarse quantizer, exploded to one row
    * per (cluster, dimension) so the driver hash checks every component plus
    * each cluster's population. Iterations 1..Iters-1 run through the
    * collected-model loop; the FINAL update stays fully distributed (the
    * (cid,pos) aggregation is the result — no terminal collect).
    */
  val kmeansCentroids = GQuery(
    "kmeans_centroids",
    (s, d) => {
      val pts = stagedPts(s, d)
      val cents = lloyd(pts, d, Iters - 1)
      val u = sums(withCid(pts, cents.map(c => (c._1, c._2))))
        .select(col("cid").as("cluster_id"), col("pos").cast("long").as("pos"),
          expr("(s - pmod(s, n)) div n").as("uc"), col("n"))
      val prev = s.createDataFrame(cents.flatMap { case (cid, cv, _) =>
        cv.toSeq.zipWithIndex.map { case (c, i) => (cid.toLong, (i + 1).toLong, c) }
      }).toDF("cluster_id", "pos", "prev_c")
      broadcast(prev).join(u, Seq("cluster_id", "pos"), "left")
        .select(col("cluster_id"), col("pos"),
          coalesce(col("uc"), col("prev_c")).as("c"),
          coalesce(col("n"), lit(0L)).as("n_points"))
    },
    oracle = Some(
      s"""${chain(Iters)}
         |SELECT c$Iters.cid AS cluster_id, CAST(g.pos AS BIGINT) AS pos,
         |       c$Iters.cv[g.pos] AS c, c$Iters.n AS n_points
         |FROM c$Iters CROSS JOIN (SELECT unnest(generate_series(1, $Dims)) AS pos) g""".stripMargin),
    bench = true)

  /** Q:ann_ivf_trained_topk — the IVF search over the TRAINED quantizer:
    * every vector is assigned to its nearest trained centroid (row-local),
    * and each query (vec_id < 10) searches only its own cell. Completes the
    * label-column stand-in of ann_ivf_label_topk with a real trained index;
    * ranking is the fused graft_cosine_topk aggregate (k rows per query
    * cross the shuffle).
    *
    * Recall contract: nprobe=1 — only the query's own cell is searched, so a
    * true neighbor assigned to an adjacent cell is missed; recall < 1 by
    * design (the standard IVF trade). [[annIvfNprobe2Topk]] is the recall
    * knob: same index, two probed cells.
    */
  val annIvfTrainedTopk = GQuery(
    "ann_ivf_trained_topk",
    (s, d) => {
      val pts = stagedPts(s, d)
      val cents = lloyd(pts, d, Iters)
      // staged once: both the broadcast query side and the big probe side
      // consume the assignment, and at scale the cell-assignment pass over
      // the corpus must not run twice
      val asg = Materialize.stageLazy(withCid(pts, cents.map(c => (c._1, c._2)))
        .select(col("vec_id"), col("v"), col("nrm"), col("cid")))
      val q = broadcast(asg.filter(col("vec_id") < SimilarityOps.NumQueries).as("a"))
      val scored = q.join(asg.as("b"),
          col("a.cid") === col("b.cid") && col("a.vec_id") =!= col("b.vec_id"))
        .withColumn("cos", DedupOps.cosExpr())
        .select(col("a.vec_id").as("query_id"), col("a.cid").as("cluster_id"),
          col("b.vec_id").as("neighbor_id"), col("cos"))
      SimilarityOps.topkPerQuery(scored, SimilarityOps.PerQueryK,
        Seq("query_id", "cluster_id"))
    },
    oracle = Some(
      s"""${chain(Iters)},
         |df AS (
         |  SELECT p.vec_id,
         |         list_sum(list_transform(generate_series(1, $Dims),
         |           i -> (p.qv[i] - c.cv[i]) * (p.qv[i] - c.cv[i]))) * $CompBase + c.cid AS comp
         |  FROM pts p CROSS JOIN c$Iters c),
         |af AS (
         |  SELECT p.vec_id, p.v, p.nrm, CAST(m.comp % $CompBase AS BIGINT) AS cid
         |  FROM pts p JOIN (SELECT vec_id, min(comp) AS comp FROM df GROUP BY vec_id) m
         |  USING (vec_id)),
         |scored AS (
         |  SELECT a.vec_id AS query_id, a.cid AS cluster_id, b.vec_id AS neighbor_id,
         |         list_sum(list_transform(generate_series(1, $Dims),
         |           i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) AS cos
         |  FROM af a JOIN af b ON a.vec_id < ${SimilarityOps.NumQueries}
         |                     AND a.cid = b.cid AND a.vec_id <> b.vec_id)
         |SELECT query_id, cluster_id, neighbor_id, round(cos, 4) AS cosine,
         |       CAST(rank AS BIGINT) AS rank
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |               ORDER BY cos DESC, neighbor_id) AS rank
         |      FROM scored)
         |WHERE rank <= ${SimilarityOps.PerQueryK}""".stripMargin),
    bench = true)

  /** Q:ann_ivf_nprobe2_topk — the nprobe=2 refinement of
    * [[annIvfTrainedTopk]]: each query probes its TWO nearest trained cells,
    * recovering true neighbors that fell just across a Voronoi boundary
    * (the standard IVF recall knob; nprobe=1 recall < 1 by design).
    *
    * Probe selection is row-local over the tiny query side: the K composite
    * distances (same affine compiled form as the assignment) are sorted in
    * an array column and the two smallest decoded back to cell ids — no
    * window, no extra shuffle. The corpus keeps its single-cell assignment
    * (staged once, shared plan shape with the nprobe=1 query); the probe
    * list (queries × 2 rows) broadcasts against it, so at 100 TB the cost
    * is exactly two cells' worth of scan per query.
    */
  val annIvfNprobe2Topk = GQuery(
    "ann_ivf_nprobe2_topk",
    (s, d) => {
      val pts = stagedPts(s, d)
      val cents = lloyd(pts, d, Iters).map(c => (c._1, c._2))
      val asg = Materialize.stageLazy(withCid(pts, cents)
        .select(col("vec_id"), col("v"), col("nrm"), col("cid")))
      val sorted = array_sort(array(compCols(cents): _*))
      val probes = pts.filter(col("vec_id") < SimilarityOps.NumQueries)
        .withColumn("sc", sorted)
        .select(col("vec_id").as("query_id"), col("v").as("qv2"),
          col("nrm").as("qnrm"),
          explode(array(
            (element_at(col("sc"), 1) % CompBase).cast("long"),
            (element_at(col("sc"), 2) % CompBase).cast("long"))).as("probe_cid"))
      val scored = broadcast(probes).join(asg.as("b"),
          col("probe_cid") === col("b.cid") && col("query_id") =!= col("b.vec_id"))
        .withColumn("cos", expr("graft_dot(qv2, v)") / (col("qnrm") * col("b.nrm")))
        .select(col("query_id"), col("b.vec_id").as("neighbor_id"), col("cos"))
      SimilarityOps.topkPerQuery(scored, SimilarityOps.PerQueryK, Seq("query_id"))
    },
    oracle = Some(
      s"""${chain(Iters)},
         |df AS (
         |  SELECT p.vec_id,
         |         list_sum(list_transform(generate_series(1, $Dims),
         |           i -> (p.qv[i] - c.cv[i]) * (p.qv[i] - c.cv[i]))) * $CompBase + c.cid AS comp
         |  FROM pts p CROSS JOIN c$Iters c),
         |af AS (
         |  SELECT p.vec_id, p.v, p.nrm, CAST(m.comp % $CompBase AS BIGINT) AS cid
         |  FROM pts p JOIN (SELECT vec_id, min(comp) AS comp FROM df GROUP BY vec_id) m
         |  USING (vec_id)),
         |pr AS (
         |  SELECT vec_id AS query_id, CAST(comp % $CompBase AS BIGINT) AS probe_cid
         |  FROM (SELECT vec_id, comp, row_number() OVER (PARTITION BY vec_id
         |               ORDER BY comp) AS rn
         |        FROM df WHERE vec_id < ${SimilarityOps.NumQueries})
         |  WHERE rn <= 2),
         |scored AS (
         |  SELECT q.query_id, b.vec_id AS neighbor_id,
         |         list_sum(list_transform(generate_series(1, $Dims),
         |           i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) AS cos
         |  FROM pr q JOIN pts a ON a.vec_id = q.query_id
         |            JOIN af b ON b.cid = q.probe_cid AND b.vec_id <> q.query_id)
         |SELECT query_id, neighbor_id, round(cos, 4) AS cosine,
         |       CAST(rank AS BIGINT) AS rank
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |               ORDER BY cos DESC, neighbor_id) AS rank
         |      FROM scored)
         |WHERE rank <= ${SimilarityOps.PerQueryK}""".stripMargin))

  val queries: Seq[GQuery] = Seq(kmeansCentroids, annIvfTrainedTopk, annIvfNprobe2Topk)
}
