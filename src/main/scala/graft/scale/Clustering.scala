package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed KMeans TRAINING (Lloyd's algorithm) over an embedding
  * column — the missing half of the reference's clustering story: the
  * reference only ASSIGNS points to a pre-trained sklearn KMeans
  * (`test.py:341`, `kmeans_k4.joblib`; mirrored by `ml.Scorer`), while
  * cluster-driven corpus curation (SemDeDup-style pruning, cluster-balanced
  * splits) needs the model trained on the corpus itself.
  *
  * Scale shape (corpus is the 100 TB side):
  *   - per iteration: ONE narrow scan of the corpus (assignment is a
  *     broadcast-k×dim map, no join, no shuffle) plus ONE partial-agg
  *     shuffle of at most `parts × k × dim` (cluster, dim)-sum rows — the
  *     classic Spark Lloyd shape. Nothing proportional to the corpus ever
  *     reaches the driver; only the k×dim centroid matrix does.
  *   - the corpus projection is persisted once and reused across
  *     iterations (caller unpersists via the returned frame's lineage
  *     being consumed; Verify/Bench clear the cache between queries).
  *
  * Determinism (oracle-replayable on any engine):
  *   - init = the vectors of the k smallest ids (no RNG);
  *   - assignment = argmin of squared L2, computed as a fixed
  *     index-order fold (`zip_with` + `aggregate`), first index wins ties;
  *   - after each iteration the recomputed means are ROUNDED to `roundDp`
  *     decimals, so the 1-ulp partial-aggregation-order wobble of a
  *     distributed mean cannot leak into the next iteration's argmin.
  */
object Clustering {

  /** Squared-L2 argmin over `cents` (0-based, first-min-wins), via the
    * [[graft.functions.NativeExpressions.nearest_centroids]] codegen
    * kernel (nprobe = 1): one fused k×dim loop per row instead of the
    * earlier `zip_with` + `aggregate` HOF chain, which stays interpreted
    * (higher-order functions are CodegenFallback) and allocates a zipped
    * array per centroid per row. Identical values: the kernel folds
    * (x−y)² in the same index order from the same 0.0 seed, and breaks
    * ties by lower centroid index — exactly `array_position(dists,
    * array_min(dists)) − 1`. The HOF form returned NULL for any vector
    * whose length ≠ dim (zip_with null-padding nulled every distance);
    * the size guard preserves that contract.
    */
  private[scale] def assignExpr(vec: Column, cents: Array[Array[Double]]): Column = {
    val k = cents.length
    val dim = cents.head.length
    val flat = new Array[Double](k * dim)
    var i = 0
    while (i < k) {
      System.arraycopy(cents(i), 0, flat, i * dim, dim)
      i += 1
    }
    when(size(vec) === lit(dim),
      element_at(graft.functions.NativeExpressions
        .nearest_centroids(vec, flat, k, dim, nprobe = 1), 1))
      .otherwise(lit(null).cast("int"))
  }

  /** Train k centroids for `iters` Lloyd iterations; returns the final
    * per-point assignment (idCol, cluster) using the centroids of the LAST
    * completed mean-update (i.e. `iters` assignment passes, `iters - 1`
    * mean updates — the final assignment is what downstream curation
    * consumes). An empty cluster keeps its previous centroid.
    */
  def lloydAssignments(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, roundDp: Int = 6): DataFrame = {
    require(k > 0 && iters > 0, "k and iters must be positive")
    val e = graft.core.Par.ensure(corpus)
      .select(col(idCol).as("__id"),
        transform(col(vecCol), x => x.cast("double")).as("__v"))
      .persist()
    val cents = lloydCentroids(e, k, iters, roundDp)
    e.select(col("__id").as(idCol), assignExpr(col("__v"), cents).as("cluster"))
  }

  /** Train and RETURN the k×dim centroid matrix (the model artifact) —
    * same deterministic loop as [[lloydAssignments]], for callers that
    * need the centroids themselves (coarse quantizers, [[Pq]] composition,
    * model export).
    */
  def lloydTrain(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, roundDp: Int = 6): Array[Array[Double]] = {
    require(k > 0 && iters > 0, "k and iters must be positive")
    val e = graft.core.Par.ensure(corpus)
      .select(col(idCol).as("__id"),
        transform(col(vecCol), x => x.cast("double")).as("__v"))
      .persist()
    try lloydCentroids(e, k, iters, roundDp)
    finally { e.unpersist(blocking = false); () }
  }

  /** The Lloyd training loop itself, on a pre-projected (__id, __v
    * array<double>) frame: deterministic lowest-id seed, `iters − 1`
    * assignment + rounded-mean updates, returns the final k×dim centroid
    * matrix (the only data that lands on the driver). Shared by
    * [[lloydAssignments]] and the per-subspace codebook training in
    * [[Pq]].
    */
  private[scale] def lloydCentroids(e: DataFrame, k: Int, iters: Int,
      roundDp: Int): Array[Array[Double]] = {
    // deterministic seed: the k lowest-id vectors (k×dim doubles — the
    // only data that ever lands on the driver)
    var cents: Array[Array[Double]] = e.orderBy(col("__id")).limit(k)
      .collect().map(_.getSeq[Double](1).toArray)
    require(cents.length == k, s"corpus has fewer than k=$k rows")
    val dim = cents.head.length
    // Mean update WITHOUT a posexplode: one hash aggregate with `dim`
    // per-element avg columns over the assigned frame. The earlier
    // explode formulation hid a 13× cliff: projection
    // collapse pushed the interpreted argmin expression BELOW the
    // generate, so the k×dim fold re-evaluated once per EXPLODED row —
    // ×dim work per point per iteration (4.0 s → 0.3 s per update at
    // sf0.1 measured). The aggregate form evaluates the argmin exactly
    // once per row (it is the grouping key) and each avg input is an
    // O(1) element_at on the materialized array. Shuffle state is the
    // same k×dim cells either way. At very large dim (≳ thousands) the
    // dim-wide aggregate row gets unwieldy — there, explode but
    // materialize the assignment column FIRST (a real barrier, not a
    // projection), the general interpreted-HOF rule from SCALING.md.
    for (_ <- 1 until iters) {
      val aggs = (0 until dim).map(i =>
        avg(element_at(col("__v"), i + 1)).as(s"__m$i"))
      val means = e
        .select(assignExpr(col("__v"), cents).as("cluster"), col("__v"))
        .groupBy(col("cluster"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
      val next = cents.map(_.clone())
      means.foreach { r =>
        val c = r.getInt(0)
        (0 until dim).foreach { i =>
          // a ragged vector shorter than the seed dim makes this avg null;
          // keep the prior centroid value (the posexplode formulation's
          // behavior) instead of NPE-ing the driver loop
          if (!r.isNullAt(i + 1))
            next(c)(i) = BigDecimal(r.getDouble(i + 1))
              .setScale(roundDp, BigDecimal.RoundingMode.HALF_UP).toDouble
        }
      }
      cents = next
      require(cents.forall(_.length == dim))
    }
    cents
  }
}
