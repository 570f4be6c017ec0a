package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel
import Staging.Stageable
import graft.functions.VectorFunctions

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (`array<float>`).
  *
  * Brute-force cosine top-k is the exact baseline (one broadcast of the
  * query set, no shuffle of the corpus); the LSH variant is the scale
  * path: random-hyperplane signatures bucket the corpus so each query
  * only scores its own buckets. Two scale controls:
  *
  *   - the plane count ADAPTS to corpus size (`adaptivePlanes`): buckets
  *     per table = 2^planes grows with the corpus so expected bucket
  *     population stays bounded (~`targetBucket`) — a fixed bucket count
  *     would make the in-bucket pair work quadratic in corpus size;
  *   - multiple independent tables (OR-construction, `numTables` seeds):
  *     a pair/(query,neighbor) is a candidate if it collides in ANY
  *     table, which restores the recall that longer signatures cost.
  *
  * Candidate generation shuffles (table, bucket, id) ONLY — vectors are
  * joined back by id for the exact-cosine verify, so shuffle bytes never
  * scale with embedding dimension. All arithmetic is double
  * (`cast(array<double>)`) and strictly sequential (native `VectorDot` /
  * `CosineSim` kernels and left folds), so scores are bit-deterministic
  * regardless of cluster topology.
  */
object Similarity {

  /** Sequential-fold dot product of two double-array columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0d), (acc, v) => acc + v)

  /** L2 norm of a double-array column. */
  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0d), (acc, v) => acc + v))

  /** cosine(a, b) = dot / (norm(a) * norm(b)). */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Symmetric per-vector int8 quantization — the storage-compression
    * step of an embedding pipeline (4× smaller than float32, dot products
    * stay usable after dequantization by the per-vector scale). Two-step
    * API because the scale must be STAGED as an attribute before the
    * quantize lambda uses it (a lambda re-evaluates non-attribute
    * subexpressions per element — the array_max would run dim times).
    */
  def quantScale(vec: Column): Column =
    array_max(transform(vec, v => abs(v))) / lit(127.0)

  /** q_i = round(v_i / scale) ∈ [-127, 127]; `scale` must be a staged
    * column attribute, not an expression.
    */
  def quantizeInt8(vec: Column, scale: Column): Column =
    transform(vec, v => round(v / scale).cast("int"))

  /** Plane count such that expected bucket population ≈ targetBucket:
    * ceil(log2(corpus / targetBucket)), clamped. At 1e9 docs and
    * targetBucket=128 this is 23 planes — bucket size stays bounded as
    * the corpus grows, which is what keeps in-bucket pair work linear
    * overall. Callers pass `numPlanes = 0` to request adaptation.
    */
  def adaptivePlanes(corpusSize: Long, targetBucket: Int = 128,
      minPlanes: Int = 2, maxPlanes: Int = 24): Int = {
    val ratio = math.max(1.0, corpusSize.toDouble / math.max(targetBucket, 1))
    val needed = math.ceil(math.log(ratio) / math.log(2.0)).toInt
    math.min(maxPlanes, math.max(minPlanes, needed))
  }

  /** Random-hyperplane LSH signature: bit p = sign of ⟨vec, plane_p⟩.
    * Planes come from a fixed-seed driver-side RNG (deterministic across
    * runs and executors). Each plane ships as ONE array literal (not
    * dim scalar literals — at dim=1024 that would be thousands of plan
    * nodes), and the projection is the native codegen'd `vector_dot`.
    */
  def hyperplaneBucket(vec: Column, dim: Int, numPlanes: Int, seed: Long): Column = {
    val rnd = new java.util.Random(seed)
    val planes = Array.fill(numPlanes, dim)(rnd.nextGaussian())
    planes.zipWithIndex.map { case (plane, p) =>
      when(VectorFunctions.vector_dot(vec, lit(plane)) >= 0d, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Per-table bucket ids as one array column (posexplode → (tbl, bucket)
    * keys). Each table re-derives its planes from `seed + t·1000003`.
    * Implemented by the native [[graft.functions.HyperplaneSigs]] kernel:
    * the composed form below inlines every plane as literal source text,
    * which at 40 planes × 16 tables × dim 64 blows janino's limits and
    * drops the whole stage to interpreted execution (found at the sf1
    * bench); the kernel ships the plane matrix as a codegen reference
    * object instead, so the generated code is three small loops at any
    * width. The kernel is a row of `GraftExtensions.functions`, which
    * every session built with the extension has.
    */
  def bucketTables(vec: Column, dim: Int, numPlanes: Int, numTables: Int,
      seed: Long): Column =
    VectorFunctions.hyperplane_sigs(vec, dim, numPlanes, numTables, seed)

  /** The literal-composed construction `bucketTables` replaced — kept as
    * the independent reference the bit-identity spec checks the native
    * kernel against (never used in a query plan).
    */
  private[graft] def bucketTablesComposed(vec: Column, dim: Int, numPlanes: Int,
      numTables: Int, seed: Long): Column =
    array((0 until numTables).map(t =>
      hyperplaneBucket(vec, dim, numPlanes, seed + 1000003L * t)): _*)

  /** Exact brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors (self excluded). Queries broadcast; ranking is a window
    * per query id with a total tie-break on neighbor id.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    // persist the cast frames and precompute norms once per vector —
    // otherwise the float→double cast and the norm fold re-run per PAIR
    val c = Staging.widen(corpus)
      .select(col(idCol).as("n_id"), col(vecCol).cast("array<double>").as("n_vec"))
      .stagePersist()
      .withColumn("n_norm", norm(col("n_vec")))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).cast("array<double>").as("q_vec"))
      .stagePersist()
      .withColumn("q_norm", norm(col("q_vec")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos", VectorFunctions.vector_dot(col("q_vec"), col("n_vec"))
        / (col("q_norm") * col("n_norm")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "rank", "cos")
  }

  /** Multi-table LSH ANN: score only corpus vectors sharing a query's
    * bucket in at least one table (candidate set deduped on ids before
    * scoring). `numPlanes = 0` derives the plane count from the corpus
    * size. Exact cosine ranks candidates, so precision is exact — only
    * recall is approximate.
    *
    * `probeBits = 1` (default) enables query-side MULTI-PROBE (Lv et al.
    * 2007, "Multi-Probe LSH"): each query additionally probes every
    * bucket within hamming ≤ probeBits of its signature in each table —
    * a near-miss neighbor differing on one hyperplane is still found.
    * The extra probes multiply only the BROADCAST side (queries × tables
    * × (planes+1) rows — bytes, not corpus work), which is why the knob
    * is query-side only; corpus banding and shuffle volume are untouched.
    * Measured on the weak-structure bench corpus at 2k vectors: recall
    * 0.83 → ~1.0 for ~1.5× candidate verify work.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int, numPlanes: Int = 0,
      numTables: Int = 16, seed: Long = 42L, targetBucket: Int = 128,
      corpusSize: Long = -1L, probeBits: Int = 1): DataFrame = {
    require(probeBits >= 0 && probeBits <= 1, s"probeBits ∈ {0, 1}, got $probeBits")
    // persist the cast frame first: the bucket bits run numPlanes dot
    // products over the vector, which must be an attribute, not a re-cast
    val c = Staging.widen(corpus)
      .select(col(idCol).as("n_id"), col(vecCol).cast("array<double>").as("n_vec"))
      .stagePersist()
    // plane count from corpus size: pass `corpusSize` when known (a 100 TB
    // caller knows its table's row count — the count() fallback is a full
    // scan, fine only at gate/bench scale where the frame is cached anyway)
    val planes =
      if (numPlanes > 0) numPlanes
      else adaptivePlanes(if (corpusSize > 0) corpusSize else c.count(), targetBucket)
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).cast("array<double>").as("q_vec"))
      .stagePersist()
    // persisted: the corpus-side banding is numPlanes×numTables hyperplane
    // dots per vector — the dominant cost at corpus scale (measured: ~all
    // of the 500k-tier wall) — and both nothing about it depends on the
    // query set, so repeated top-k calls over one corpus reuse the frame
    val cBand = c.select(col("n_id"),
      posexplode(bucketTables(col("n_vec"), dim, planes, numTables, seed))
        .as(Seq("tbl", "bucket")))
      .stagePersist()
    val qBand0 = q.select(col("q_id"),
      posexplode(bucketTables(col("q_vec"), dim, planes, numTables, seed))
        .as(Seq("tbl", "bucket")))
    val qBand =
      if (probeBits == 0) qBand0
      else {
        // probe set = exact bucket + every single-bit flip of it
        val flips = lit(0L) +: (0 until planes).map(p => lit(1L << p))
        qBand0.select(col("q_id"), col("tbl"),
          explode(array(flips.map(m => col("bucket").bitwiseXOR(m)): _*)).as("bucket"))
      }
    val cand = cBand.join(broadcast(qBand), Seq("tbl", "bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select("q_id", "n_id")
      .dropDuplicates("q_id", "n_id")
    val scored = cand
      .join(c.withColumn("n_norm", norm(col("n_vec"))), "n_id")
      .join(broadcast(q.withColumn("q_norm", norm(col("q_vec")))), "q_id")
      .withColumn("cos", VectorFunctions.vector_dot(col("q_vec"), col("n_vec"))
        / (col("q_norm") * col("n_norm")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "rank", "cos")
  }

  private def normalizeVec(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0d) v else v.map(_ / n)
  }

  /** One executor-side Lloyd update: decimal-exact per-coordinate means,
    * re-assembled into ONE array row per non-empty cluster. This is the
    * only frame the IVF trainer collects — ≤ nlist rows per iteration
    * regardless of corpus size and dim (the per-(cluster,pos) stage stays
    * distributed with map-side partial aggregation; the second groupBy
    * shuffles nlist×dim mean scalars, never corpus rows).
    */
  private[graft] def lloydMeans(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cluster"), posexplode(col("n_vec")).as(Seq("pos", "v")))
      .groupBy("cluster", "pos")
      .agg(sum(col("v").cast("decimal(38,18)")).cast("double").as("s"),
        count(lit(1)).as("n"))
      .groupBy("cluster")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), (col("s") / col("n")).as("m")))),
        x => x.getField("m")).as("mean"))

  /** Distance-weighted (k-means++-style) seeding over a deterministic
    * bounded sample: the `samplePerList × nlist` corpus vectors with the
    * smallest `xxhash64(id)` (content-addressed — independent of
    * partitioning and row order) are collected once; each next seed is
    * drawn with probability ∝ its LINEAR cosine distance to the chosen
    * set (not D² — see the weight comment below), via a FIXED-seed RNG
    * over the deterministic pool order — so seeding is run-to-run stable
    * while spreading seeds across the data's density (pure farthest-point
    * maxmin pins seeds to outliers and measurably hurts probe recall on
    * clustered corpora). O(pool · nlist · dim) driver scalar ops with an
    * incremental min-distance array — the standard bounded-training-sample
    * regime of IVF coarse quantizers.
    */
  private[graft] def farthestPointSeeds(c: DataFrame, nlist: Int,
      samplePerList: Int = 32, seed: Long = 42L): Array[Array[Double]] = {
    // hashHead, not a bare TakeOrdered — same driver-traffic bound as
    // sampleSeeds (an 8k pool × hundreds of tasks is the same class)
    val pool = hashHead(c, math.max(nlist, 1) * math.max(samplePerList, 1))
    if (pool.isEmpty) return Array.empty
    val k = math.min(nlist, pool.length)
    val rnd = new java.util.Random(seed)
    val seeds = Array.newBuilder[Array[Double]]
    seeds += pool(0)
    // cosine distance to the chosen set; unit vectors so dist = 1 − dot
    val minDist = pool.map(v => math.max(0d, 1d - v.zip(pool(0)).map { case (a, b) => a * b }.sum))
    // LINEAR distance weights, deliberately not k-means++'s D²: on the
    // bounded cosine metric (d ∈ [0,2]) squaring over-rewards outliers and
    // measurably hurts probe recall here (0.825 vs 0.925 at the gate
    // params) — the gentler roulette still spreads seeds across density
    var chosen = 1
    while (chosen < k) {
      val total = minDist.sum
      val pick =
        if (total <= 0d) chosen % pool.length // degenerate pool: round-robin
        else {
          var r = rnd.nextDouble() * total
          var i = 0
          while (i < pool.length - 1 && r >= minDist(i)) { r -= minDist(i); i += 1 }
          i
        }
      val s = pool(pick)
      seeds += s
      var i = 0
      while (i < pool.length) {
        val d = math.max(0d, 1d - s.zip(pool(i)).map { case (a, b) => a * b }.sum)
        if (d < minDist(i)) minDist(i) = d
        i += 1
      }
      chosen += 1
    }
    seeds.result()
  }

  /** IVF (inverted-file) ANN — the coarse-quantizer scale path: partition
    * the corpus into `nlist` cells (spherical k-means-lite), probe only the
    * `nprobe` cells nearest each query. Versus LSH: cells adapt to the data
    * distribution, so cell populations stay balanced where hyperplane
    * buckets can skew.
    *
    * Deterministic end to end — farthest-point seeds over a hash-ordered
    * bounded sample, Lloyd refinement sums coordinates in exact decimal
    * (partition-order independent), assignment ties break on cell index —
    * so results are stable across runs and cluster topology. The driver
    * sees only metadata: the seed pool once, then ≤ nlist mean rows per
    * Lloyd iteration (`lloydMeans`); corpus rows never collect. Centroids
    * re-enter the plan as single array literals with codegen'd
    * `vector_dot` projections.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
      iters: Int = 2, assignReplicas: Int = 3): DataFrame = {
    val c = Staging.widen(corpus)
      .select(col(idCol).as("n_id"), col(vecCol).cast("array<double>").as("n_vec"))
      .stagePersist()

    // centroids are unit vectors, so argmax dot == argmax cosine; the
    // trained matrix enters every plan below through the native
    // [[graft.functions.CentroidTopCells]] kernel (top-R picked MAP-SIDE —
    // exploding all nlist scores through a per-vector rank window would
    // shuffle corpus×nlist rows at production cell counts; ties break on
    // cell index, same as the probe ranking)
    val centroids = trainCentroids(c, nlist, iters)
    def topCells(vec: Column, r: Int): Column = topCellsCol(centroids, r)(vec)
    // index-side redundant assignment: each corpus vector enters its top-R
    // cells (standard IVF recall knob — storage ×R, probe work unchanged;
    // neighbors on a cell boundary stay reachable from adjacent probes)
    def multiAssigned(df: DataFrame, replicas: Int): DataFrame =
      df.select(col("n_id"), col("n_vec"),
        explode(topCells(col("n_vec"), replicas)).as("cluster"))

    val q = queries.select(col(idCol).as("q_id"), col(vecCol).cast("array<double>").as("q_vec"))
      .stagePersist()
    // nprobe nearest cells per query — same map-side top-R selection
    val qProbes = q.select(col("q_id"),
      explode(topCells(col("q_vec"), nprobe)).as("cluster"))

    val index = multiAssigned(c, math.max(1, assignReplicas))
    val scored = index.withColumn("n_norm", norm(col("n_vec")))
      .join(broadcast(qProbes), "cluster")
      .filter(col("q_id") =!= col("n_id"))
      .dropDuplicates("q_id", "n_id") // replicas meet several probes once
      .join(broadcast(q.withColumn("q_norm", norm(col("q_vec")))), "q_id")
      .withColumn("cos", VectorFunctions.vector_dot(col("q_vec"), col("n_vec"))
        / (col("q_norm") * col("n_norm")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "rank", "cos")
  }

  /** Embedding-cosine near-duplicate pairs: multi-table LSH buckets the
    * corpus against itself; candidates (id pairs only — vectors join back
    * for the verify) are verified with exact cosine ≥ threshold. With
    * adaptive planes the in-bucket pair space stays bounded per bucket,
    * so total pair work is linear in corpus size — the only
    * corpus×corpus shape that survives 100 TB.
    */
  def cosineNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double, numPlanes: Int = 0, numTables: Int = 16,
      seed: Long = 42L, targetBucket: Int = 128, corpusSize: Long = -1L,
      maxEscalations: Int = 3): DataFrame =
    cosineNearDupPairsChosen(corpus, idCol, vecCol, dim, threshold, numPlanes,
      numTables, seed, targetBucket, corpusSize, maxEscalations)._1

  /** [[cosineNearDupPairs]] plus the banding width the governor settled
    * on — the scale harness logs it to prove escalation headroom (the
    * old 24-plane frame clamped exactly where dense corpora need more).
    */
  def cosineNearDupPairsChosen(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double, numPlanes: Int = 0, numTables: Int = 16,
      seed: Long = 42L, targetBucket: Int = 128, corpusSize: Long = -1L,
      maxEscalations: Int = 3): (DataFrame, Int) = {
    val c = Staging.widen(corpus)
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("vec"))
      .stagePersist()
    // Compute the FULL 40-bit signature per (vector, table) ONCE: plane p
    // draws the same gaussians regardless of how many planes follow it
    // (row-major fill from the same seed), so the bucket at p planes is
    // just the low p bits — escalation probes and the final banding all
    // reuse one persisted frame instead of re-projecting the corpus
    // against every candidate plane count (at the 500k ladder tier the
    // re-bandings were ~⅓ of the wall). Width 40 (not 24) keeps governor
    // headroom at ~10¹⁰ vectors, where 2²⁴ buckets × 16 tables would
    // leave ~600 vectors/bucket with nowhere left to escalate; an
    // EXPLICIT caller count skips escalation entirely, so the frame is
    // exactly as wide as requested — no masked-off projection work.
    val fullPlanes = if (numPlanes > 0) numPlanes else 40
    require(fullPlanes <= 62, s"numPlanes must fit a long signature, got $numPlanes")
    val sigs = c.select(col("id"),
      posexplode(bucketTables(col("vec"), dim, fullPlanes, numTables, seed))
        .as(Seq("tbl", "sig")))
      .stagePersist()
    def bandedAt(p: Int) = sigs.select(col("id"), col("tbl"),
      col("sig").bitwiseAND(lit((1L << p) - 1)).as("bucket"))
    // same corpusSize contract as lshTopK: known size skips the count() scan
    val n = if (corpusSize > 0) corpusSize else c.count()
    var planes = if (numPlanes > 0) numPlanes else adaptivePlanes(n, targetBucket)
    // Candidate-count governor. Two ways the default sizing explodes at
    // scale, both measured on the 200k-vector ladder tier:
    //  - expected-UNIFORM sizing keeps bucket population ~targetBucket,
    //    so candidates grow ~n·targetBucket·tables/2 — ALREADY ~5×10⁸
    //    pairs at 500k vectors with the 128×16 defaults (the verify-join
    //    sort spilled a 44 GB disk);
    //  - CLUSTERED corpora concentrate each cluster into a few buckets
    //    per table (members agree with their centroid's sign on most
    //    planes), multiplying Σ n_b² several-fold beyond uniform.
    // The candidate count is EXACTLY Σ n_b·(n_b−1)/2 over buckets, so
    // probe it directly (one partial-aggregating count over 12-byte
    // (tbl, bucket) keys — linear and cheap vs quadratic pair work) and
    // escalate planes while it exceeds an ABSOLUTE budget: max(4×10⁷,
    // 64·n) — 64 candidates/vector is plenty above any real near-dup
    // density, and the floor leaves small/gate-scale corpora (where
    // short signatures are what recall needs) entirely untouched. Each
    // +4 planes cuts co-bucketing ~s⁴ (s = per-plane sign agreement);
    // GENUINE near-dups (cos near 1, s ≈ 1) keep colliding across the
    // 16-table OR-construction while weak low-cos pairs are shed — the
    // right production trade, and the knob callers tune by passing
    // numPlanes explicitly (which skips all probing).
    if (numPlanes <= 0) {
      val budget = math.max(4.0e7, 64.0 * n.toDouble)
      var tries = 0
      while (tries < maxEscalations && planes < fullPlanes && {
        val row = bandedAt(planes).groupBy("tbl", "bucket").count()
          .agg(sum(col("count").cast("double") * (col("count") - 1) / 2).as("c"))
          .first()
        !row.isNullAt(0) && row.getDouble(0) > budget
      }) {
        planes = math.min(fullPlanes, planes + 4)
        tries += 1
      }
    }
    val banded = bandedAt(planes)
    val a = banded.select(col("tbl"), col("bucket"), col("id").as("id_a"))
    val b = banded.select(col("tbl").as("tbl_r"), col("bucket").as("bucket_r"),
      col("id").as("id_b"))
    val pairIds = a
      .join(b, col("tbl") === col("tbl_r") && col("bucket") === col("bucket_r") &&
        col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    val pairs = pairIds
      .join(c.select(col("id").as("id_a"), col("vec").as("vec_a")), "id_a")
      .join(c.select(col("id").as("id_b"), col("vec").as("vec_b")), "id_b")
      .withColumn("cos", VectorFunctions.cosine_sim(col("vec_a"), col("vec_b")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
    (pairs, planes)
  }

  /** Flat row-major (cell-major) centroid matrix for the native
    * [[graft.functions.CentroidTopCells]] kernel. */
  private[graft] def flatCentroids(cs: Array[Array[Double]]): Array[Double] = {
    val dim = cs(0).length
    val out = new Array[Double](cs.length * dim)
    var c = 0
    while (c < cs.length) {
      System.arraycopy(cs(c), 0, out, c * dim, cs(c).length)
      c += 1
    }
    out
  }

  /** The literal-composed construction the native kernel replaced — kept
    * as the independent reference the bit-identity spec checks
    * [[graft.functions.CentroidTopCells]] against (never used in a query
    * plan; one array literal per centroid, janino-fatal at derived cell
    * counts).
    */
  private[graft] def topCellsComposed(vec: Column,
      centroids: Array[Array[Double]], r: Int): Column = {
    val scores =
      array(centroids.toIndexedSeq.map(ct => VectorFunctions.vector_dot(vec, lit(ct))): _*)
    val paired = zip_with(scores,
      sequence(lit(1), lit(centroids.length)),
      (s, cc) => struct(s.as("s"), cc.as("c")))
    val sorted = array_sort(paired, (a, b) =>
      when(a.getField("s") > b.getField("s"), -1)
        .when(a.getField("s") < b.getField("s"), 1)
        .when(a.getField("c") < b.getField("c"), -1).otherwise(1))
    transform(slice(sorted, 1, r), t => t.getField("c"))
  }

  /** Group-contiguous layout of a trained cell matrix for the two-level
    * kernel ([[graft.functions.CentroidTopCellsNested]]). */
  private[graft] final case class CellGrouping(flatGroups: Array[Double],
      flatCells: Array[Double], offsets: Array[Int], ids: Array[Int])

  /** Cell count above which assignment switches from the flat kernel
    * (O(k·dim) per vector) to the two-level kernel (O(√(p·k)·dim)). At
    * the threshold the two-level path is already ~4× fewer multiplies;
    * below it the flat kernel's simplicity wins. */
  private[graft] val NestedCellThreshold = 256

  /** Driver-side deterministic clustering of the CELL centroids into
    * g = ⌈√(probes·k)⌉ groups (the cost-balancing choice: per-vector work
    * g + p·k/g is minimized at g = √(p·k)): stride-sampled seeds over the
    * centroid order, `lloydIters` spherical Lloyd rounds over the k
    * centroid ROWS (all driver arithmetic, sequential → deterministic;
    * k ≤ 2¹⁶ keeps this O(k·g·dim) trivial), then a group-contiguous
    * reorder with an id map back to original 1-based cell ids.
    */
  private[graft] def groupCells(centroids: Array[Array[Double]],
      groupProbes: Int, lloydIters: Int = 2): CellGrouping = {
    val k = centroids.length
    val dim = centroids(0).length
    val g = math.max(1, math.min(k,
      math.ceil(math.sqrt(groupProbes.toDouble * k)).toInt))
    var groups = Array.tabulate(g)(i => centroids((i.toLong * k / g).toInt).clone())
    val assign = new Array[Int](k)
    def assignAll(): Unit = {
      var c = 0
      while (c < k) {
        var best = 0
        var bestS = Double.NegativeInfinity
        var i = 0
        while (i < g) {
          var s = 0.0
          var j = 0
          while (j < dim) { s += groups(i)(j) * centroids(c)(j); j += 1 }
          if (s > bestS) { bestS = s; best = i }
          i += 1
        }
        assign(c) = best
        c += 1
      }
    }
    for (_ <- 1 to lloydIters) {
      assignAll()
      val sums = Array.fill(g)(new Array[Double](dim))
      val counts = new Array[Int](g)
      var c = 0
      while (c < k) {
        val s = sums(assign(c))
        var j = 0
        while (j < dim) { s(j) += centroids(c)(j); j += 1 }
        counts(assign(c)) += 1
        c += 1
      }
      groups = groups.zipWithIndex.map { case (old, i) =>
        if (counts(i) == 0) old else normalizeVec(sums(i))
      }
    }
    assignAll()
    val order = (0 until k).sortBy(c => (assign(c), c))
    val flatCells = new Array[Double](k * dim)
    val ids = new Array[Int](k)
    val offsets = new Array[Int](g + 1)
    order.zipWithIndex.foreach { case (c, pos) =>
      System.arraycopy(centroids(c), 0, flatCells, pos * dim, dim)
      ids(pos) = c + 1
      offsets(assign(c) + 1) += 1
    }
    var i = 0
    while (i < g) { offsets(i + 1) += offsets(i); i += 1 }
    CellGrouping(flatCentroids(groups), flatCells, offsets, ids)
  }

  /** Top-`r` cells of `vec` — flat kernel at gate-scale cell counts,
    * two-level past [[NestedCellThreshold]] (where flat assignment would
    * make corpus scoring O(n·k·dim), quadratic once k is derived from
    * the corpus). `groupProbes` is the two-level recall knob; pair
    * PRECISION is unaffected either way (exact-cosine verify). */
  private[graft] def topCellsCol(centroids: Array[Array[Double]], r: Int,
      groupProbes: Int = 8)(vec: Column): Column =
    if (centroids.length <= NestedCellThreshold)
      VectorFunctions.centroid_top_cells(vec, flatCentroids(centroids),
        centroids(0).length, r)
    else {
      val grp = groupCells(centroids, groupProbes)
      VectorFunctions.centroid_top_cells_nested(vec, grp.flatGroups,
        grp.flatCells, grp.offsets, grp.ids, centroids(0).length,
        groupProbes, r)
    }

  /** Seeds for LARGE nlist: the first `nlist` corpus vectors by
    * content-hash order (a deterministic, partition-independent random
    * sample), normalized — the standard random-init regime. The
    * distance-weighted roulette in [[farthestPointSeeds]] is
    * O(pool·nlist·dim) DRIVER scalar work (pool = 32·nlist), which at a
    * production-derived nlist (thousands of cells) is minutes of
    * single-threaded time for a recall gain the Lloyd iterations already
    * deliver at that cell density; sampled seeds keep seeding O(nlist·dim).
    */
  private[graft] def sampleSeeds(c: DataFrame, nlist: Int): Array[Array[Double]] =
    hashHead(c, math.max(nlist, 1))

  /** The `k` corpus rows with the smallest (xxhash64(id), id) — the
    * content-addressed deterministic sample both seeders draw from,
    * normalized.
    *
    * NOT a bare `orderBy(...).limit(k)`: that plans as TakeOrdered,
    * which ships every task's LOCAL top-k to the driver — at a derived
    * tier-D cell count (k ≈ 61k vectors of 64 doubles) that is ~34 MB
    * × tasks, and the 2M-vector ladder run died on
    * spark.driver.maxResultSize at 31 tasks (≈ 1 GB) before the first
    * Lloyd pass. Pre-filtering to the hash slice expected to hold ~3k
    * rows keeps the same selection function (the global top-k is a
    * subset of the slice whenever the slice holds ≥ k rows — checked,
    * with the exact path as fallback, which is cheap exactly when it
    * triggers) while driver traffic drops to the seed set itself, not
    * tasks × k.
    */
  private def hashHead(c: DataFrame, k: Int): Array[Array[Double]] = {
    def exact(df: DataFrame): Array[Array[Double]] =
      df.orderBy(xxhash64(col("n_id")), col("n_id"))
        .limit(k).select("n_vec").collect()
        .map(r => normalizeVec(r.getSeq[Double](0).toArray))
    val n = c.count() // persisted corpus — a narrow cached scan
    if (n <= 4L * k) return exact(c)
    // xxhash64 is uniform over the full signed-long range: the smallest
    // hashes live just above Long.MinValue, so a threshold at fraction
    // f of the range keeps ~f·n rows (f = 3k/n → ~3k, ≥ k w.h.p.)
    val thr = Long.MinValue + (3.0 * k / n * 1.8446744073709552e19).toLong
    val slice = c.filter(xxhash64(col("n_id")) < lit(thr))
    if (slice.count() >= k) exact(slice) else exact(c)
  }

  /** Shared IVF coarse-quantizer trainer over a staged (n_id, n_vec)
    * frame: seeded (roulette ≤256 cells, sampled above — see
    * [[sampleSeeds]]), refined with `iters` decimal-exact Lloyd rounds.
    * Assignment runs through the native kernel, so training cost is
    * independent of how the cell count was derived. Driver traffic:
    * the seed pool once, then ≤ nlist mean rows per iteration.
    */
  /** The governor's escalation-futility rule: a (necessarily final)
    * escalation INTO the cell-count clamp is skipped when even the
    * optimistic occupancy model — candidates ∝ 1/k at fixed corpus —
    * says the budget stays unmet. Optimistic is the safe direction:
    * adversarially concentrated corpora shrink candidates SLOWER than
    * ∝1/k, so this never skips an escalation that could have helped.
    * Un-clamped doublings are never futile by this rule (the remaining
    * escalation headroom can compound).
    */
  private[graft] def escalationFutile(cand: Double, k: Int, kNext: Int,
      clamp: Int, budget: Double): Boolean =
    kNext == clamp && cand * (k.toDouble / kNext) > budget

  /** Expected in-cell candidate count under uniform occupancy: with every
    * vector entering R of k cells, per-cell population m = n·R/k and the
    * candidate total is k·m(m−1)/2 = n·R·(m−1)/2.
    */
  private[graft] def expectedCandidates(n: Long, repl: Int, k: Int): Double = {
    val m = n.toDouble * repl / k
    n.toDouble * repl * math.max(0.0, m - 1.0) / 2.0
  }

  /** BALANCED auto cell-count derivation — pick k by minimizing the sum
    * of the two costs that actually move with it, in shared units of one
    * dim-length dot product:
    *
    *   assign(k) = (iters+1) corpus passes × 2√(p·k) kernel evals/vector
    *             = (iters+1)·2√p · n·√k        (two-level kernel, p probes)
    *   verify(k) = γ · n·R·(m−1)/2 ≈ γ·(nR)²/(2k)   (m = nR/k)
    *
    * dT/dk = 0  →  k* = (γ·n·R² / ((iters+1)·2√p))^(2/3).
    *
    * The previous solve budgeted VERIFY alone (m from the candidate
    * budget, so k ∝ n): that bought verify linearity with a √k assignment
    * factor, measured 24× wall for 10× vectors at the 200k→2M decade
    * (SCALE.md round 9). The balanced k grows as n^(2/3), so BOTH terms
    * scale as n^(4/3) per decade (~21× model bound for 10×) and the total
    * at fixed n is minimal — strictly better than either lopsided solve
    * until the 2¹⁶ clamp returns the regime to linear-in-n.
    *
    * γ is the measured cost of streaming one candidate pair through the
    * map-side verify relative to one assignment-kernel distance eval
    * (same dim-length dot product plus join-row mechanics; calibrated ≈2
    * on the 2M-vector ladder tier).
    *
    * Clamps, in order: an EXPLICIT candidate budget is a hard verify
    * ceiling (k at least nR/m with m = 2B/(nR)+1 — the pre-balance
    * verify-only solve, kept for callers that state a contract);
    * expected population m ≤ `targetCell` (the semantic granularity
    * ceiling — cells coarser than that stop meaning "one topic");
    * m ≥ 16 (tiny corpora must not split into near-empty cells);
    * k ∈ [16, 2¹⁶] (the kernel/layout clamp).
    */
  private[graft] def balancedNlist(n: Long, repl: Int, targetCell: Int,
      iters: Int, groupProbes: Int = 8, gamma: Double = 2.0,
      explicitBudget: Double = 0): Int = {
    val nd = n.toDouble
    val r = repl.toDouble
    val aCoef = (iters + 1).toDouble * 2.0 * math.sqrt(groupProbes.toDouble)
    val kStar = math.pow(gamma * nd * r * r / aCoef, 2.0 / 3.0)
    val kFromBudget =
      if (explicitBudget > 0) nd * r / (2.0 * explicitBudget / (nd * r) + 1.0)
      else 0.0
    val kGranularity = nd * r / targetCell
    val kMax = math.max(16.0, nd * r / 16.0)
    val k = math.min(kMax,
      math.max(kStar, math.max(kFromBudget, kGranularity)))
    math.max(16, math.min(1 << 16, math.ceil(k).toInt))
  }

  private[graft] def trainCentroids(c: DataFrame, nlist: Int,
      iters: Int, seeds: Array[Array[Double]] = null): Array[Array[Double]] = {
    // seeding is deterministic, so a caller that already HAS the seed
    // matrix (kmeansSummary evaluates the seed objective separately)
    // threads it through rather than re-running the k-round seeding pass
    var centroids: Array[Array[Double]] =
      if (seeds != null) seeds
      else if (nlist <= 256) farthestPointSeeds(c, nlist) else sampleSeeds(c, nlist)
    if (centroids.isEmpty) return centroids
    for (_ <- 1 to iters) {
      val assigned = c.withColumn("cluster",
        element_at(topCellsCol(centroids, 1)(col("n_vec")), 1))
      val means = lloydMeans(assigned).collect() // ≤ nlist rows
      val next = centroids.map(_.clone())
      means.foreach { r =>
        val mean = r.getSeq[Double](1).toArray
        if (mean.exists(_ != 0d)) next(r.getAs[Int]("cluster") - 1) = normalizeVec(mean)
      }
      centroids = next
    }
    centroids
  }

  /** SemDeDup-style SEMANTIC near-duplicate pairs (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540): train the IVF coarse quantizer
    * (same deterministic seeding + decimal-exact Lloyd as [[ivfTopK]]),
    * assign each vector to its `assignReplicas` nearest cells, and verify
    * exact cosine ≥ threshold only WITHIN cells.
    *
    * Versus [[cosineNearDupPairs]] (hyperplane LSH): cells adapt to the
    * data's density, so a corpus organized around semantic clusters — the
    * case SemDeDup targets — concentrates comparison work exactly where
    * the near-dups are, and the cell partition doubles as the semantic
    * grouping downstream keep-policies want ("keep one per ε-ball per
    * cluster"). Replica assignment (each vector enters its top-R cells)
    * is the boundary-robustness knob: a pair split by a cell boundary
    * still meets in a shared second-choice cell.
    *
    * Scale shape: in-cell pair work is Σ cell², so the DEFAULT
    * (`nlist = 0`) derives the cell count from the corpus — the BALANCED
    * solve of [[balancedNlist]], which minimizes assignment + verify
    * together (k ∝ n^(2/3); the pre-balance verify-only budget made
    * k ∝ n and paid a measured √k assignment factor, 24× wall for 10×
    * vectors at the 200k→2M decade), population-capped at `targetCell` —
    * and then PROBES the realized candidate count
    * (exactly Σ m·(m−1)/2 over cells, one cheap partial-agg count — the
    * same governor [[cosineNearDupPairsChosen]] runs) against
    * max(4×10⁷, 2× the solve's own expected count): a clustered corpus
    * that concentrates into few
    * cells escalates nlist ×2 (retrain is linear — sampled seeds + Lloyd
    * scans) up to `maxEscalations`, then proceeds with a LOUD stderr
    * report if still over. An explicit `nlist` pins the partition and
    * skips derivation and probing entirely (the gate keys do this).
    * Centroids ship to the plan as one flat reference-object matrix
    * (native kernel), so a derived cell count in the thousands neither
    * blows janino nor materializes per-row score arrays. Output matches
    * [[cosineNearDupPairs]]: (id_a, id_b, cos), id_a < id_b, exact-cosine
    * verified, deterministic end to end. Collapse to clusters with
    * [[Dedup.connectedComponents]] like any other pair operator.
    */
  def semanticNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int = 0, iters: Int = 2,
      assignReplicas: Int = 2, targetCell: Int = 256, corpusSize: Long = -1L,
      maxEscalations: Int = 3, candidateBudget: Double = 0): DataFrame =
    semanticNearDupPairsChosen(corpus, idCol, vecCol, threshold, nlist, iters,
      assignReplicas, targetCell, corpusSize, maxEscalations, candidateBudget)._1

  /** [[semanticNearDupPairs]] plus the cell count the governor settled
    * on — the scale harness logs it to prove derivation + escalation
    * actually engage. */
  def semanticNearDupPairsChosen(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int = 0, iters: Int = 2,
      assignReplicas: Int = 2, targetCell: Int = 256, corpusSize: Long = -1L,
      maxEscalations: Int = 3, candidateBudget: Double = 0): (DataFrame, Int) = {
    val c = Staging.widen(corpus)
      .select(col(idCol).as("n_id"), col(vecCol).cast("array<double>").as("n_vec"))
      .stagePersist()

    val auto = nlist <= 0
    // known size skips the count() scan — same contract as the LSH governor
    val n = if (!auto) -1L else if (corpusSize > 0) corpusSize else c.count()
    val repl = math.max(1, assignReplicas)
    // balanced derivation (see [[balancedNlist]]): k minimizes assignment
    // + verify together instead of budgeting verify alone
    var k =
      if (!auto) nlist
      else balancedNlist(n, repl, targetCell, iters,
        explicitBudget = candidateBudget)
    // The probe budget: an explicit contract wins; otherwise 2× the
    // balanced solve's own expected candidate count (with the old 4×10⁷
    // absolute floor below which nobody cares). Escalation thereby fires
    // exactly on CONCENTRATION — realized candidates well past the
    // uniform-occupancy model — not on the model's own expectation, which
    // the pre-balance linear budget (64·n) undercut by construction at
    // the targetCell-bound tiers.
    val budget =
      if (candidateBudget > 0) candidateBudget
      else if (auto) math.max(4.0e7, 2.0 * expectedCandidates(n, repl, k))
      else 0.0
    var centroids = trainCentroids(c, k, iters)
    if (centroids.isEmpty) // empty corpus: empty pair frame, nothing to train
      return (c.select(col("n_id").as("id_a"), col("n_id").as("id_b"),
        lit(0d).as("cos")).limit(0), 0)

    // norm computed ONCE per cell row (n·R of them) so the per-candidate
    // verify is a single dot product — cosine_sim would recompute both
    // norms per pair, 3× the flops on the quadratic-adjacent stream
    def cellsFor(cents: Array[Array[Double]]): DataFrame =
      c.select(col("n_id"), col("n_vec"), norm(col("n_vec")).as("n_nrm"),
          explode(topCellsCol(cents, math.max(1, assignReplicas))(col("n_vec")))
            .as("cluster"))
        .stagePersist()
    var cells = cellsFor(centroids)

    if (auto) {
      // realized candidate count: exactly Σ m·(m−1)/2 over (cell) groups,
      // replicas included — a linear partial-agg probe vs quadratic pair
      // work, identical in shape to the LSH plane governor
      def candidates(): Double = {
        val row = cells.groupBy("cluster").count()
          .agg(sum(col("count").cast("double") * (col("count") - 1) / 2).as("c"))
          .first()
        if (row.isNullAt(0)) 0.0 else row.getDouble(0)
      }
      var cand = candidates()
      var tries = 0
      var futile = false
      while (!futile && tries < maxEscalations && cand > budget && k < (1 << 16)) {
        val kNext = math.min(k * 2, 1 << 16)
        if (escalationFutile(cand, k, kNext, 1 << 16, budget)) {
          // the FINAL (clamped) escalation cannot meet the budget even
          // under the optimistic ∝1/k candidate model — the retrain
          // would be pure cost. Observed at tier D (2M vectors): the
          // derived 61,539 cells clamp-escalate to 65,536, a 6% cell
          // increase bought with a full second training. Degrade loudly
          // below instead.
          futile = true
        } else {
          k = kNext
          centroids = trainCentroids(c, k, iters)
          cells = cellsFor(centroids)
          cand = candidates()
          tries += 1
        }
      }
      if (cand > budget)
        // degrade LOUDLY: the operator still runs, but the caller is told
        // the in-cell pair work exceeds the linearity contract
        System.err.println(
          f"[graft] semanticNearDupPairs: $cand%.3g candidate pairs still " +
            f"exceed the $budget%.3g budget after $tries escalations " +
            f"(nlist=$k) — proceeding with super-linear in-cell verify work")
    }

    // Within-cell candidate pairs, vectors carried THROUGH the self-join.
    // The first cut kept the cell shuffle id-only and joined vectors back
    // onto the candidate set for the verify — which meant the heaviest
    // frame in the operator (candidate pairs, quadratic-adjacent) was the
    // SORT INPUT of two more joins. When those joins planned as SMJ (any
    // scale past the broadcast threshold) the sorter spilled the entire
    // candidate set to disk: 2.25e8-row sort, 520 s at sf1 vs 1.8 s. This
    // shape instead sorts only the n·R cell rows (linear, vector payload
    // ~dim·8 B/row), streams candidate pairs out of the join map-side
    // through the codegen'd cosine filter, and lets ONLY survivors reach
    // a shuffle (the replica dedup). cos is deterministic per pair, so
    // deduping after the filter picks identical values.
    //
    // Join-side planning: the self-join's key cardinality IS k. When k is
    // small relative to the cluster (a pinned-nlist call on an outgrown
    // corpus — the gate fixture at 10×), a shuffle join parallelizes the
    // pair stream over at most k tasks no matter how wide the cluster;
    // broadcasting the build side instead spreads it across the probe
    // side's partitions, balanced by construction, with no sort at all
    // (measured at sf1, 20k vecs, pinned nlist=8, 2.25e8 candidates:
    // 67.7 s SMJ → see SCALE.md). The broadcast is safe exactly in that
    // regime: small k with a bounded corpus means a bounded frame (size-
    // guarded below). In the auto/production regime nlist ∝ n gives
    // thousands of keys — no skew, and the frame is unbroadcastable
    // anyway — so the shuffle join stands.
    val cores = corpus.sparkSession.sparkContext.defaultParallelism
    val bcastBuild =
      k < 4 * cores && {
        val nEff = if (n > 0) n else if (corpusSize > 0) corpusSize else c.count()
        val dim = c.select(size(col("n_vec"))).head().getInt(0)
        nEff * repl * (8L * dim + 48L) < (256L << 20)
      }
    val build = cells.select(col("cluster").as("cl_r"), col("n_id").as("id_b"),
      col("n_vec").as("vec_b"), col("n_nrm").as("nrm_b"))
    val pairs = cells
      .select(col("cluster"), col("n_id").as("id_a"), col("n_vec").as("vec_a"),
        col("n_nrm").as("nrm_a"))
      .join(if (bcastBuild) broadcast(build) else build,
        col("cluster") === col("cl_r") && col("id_a") < col("id_b"))
      .withColumn("cos", VectorFunctions.vector_dot(col("vec_a"), col("vec_b"))
        / (col("nrm_a") * col("nrm_b")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
      .dropDuplicates("id_a", "id_b") // replica cells meet a pair twice
    (pairs, k)
  }
}
