package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (Array[Float]).
  *
  * Baseline: brute-force cosine top-k — one narrow pass over the vectors
  * (the query vector is a literal broadcast into codegen), no shuffle except
  * the final top-k. Scale path: IVF — vectors are bucketed by nearest
  * centroid once (a small broadcast join), and queries probe only the
  * nProbe nearest buckets, cutting the scan by ~nlist/nProbe; partition
  * pruning on the centroid column makes the probe a selective parquet read
  * at rest.
  *
  * All arithmetic is sequential-fold double in native codegen'd kernels
  * (dot_f64 / norm_f64 — same fold order as the higher-order
  * aggregate-over-zip_with form they replaced), so a DuckDB oracle using
  * list_dot_product reproduces scores bit-for-bit.
  */
object Similarity {

  /** Sequential-fold dot product of two float/double arrays. Native
    * codegen'd kernel (VectorKernels.dotD) with EXACTLY the fold order of
    * the `aggregate(zip_with(_*_), 0.0, _+_)` higher-order form it
    * replaced, so every score stays bit-identical to the DuckDB
    * list_dot_product oracle — the HOF lambdas were interpreted per
    * element and dominated every cosine path's profile.
    */
  def dot(a: Column, b: Column): Column = call_function("dot_f64", a, b)

  /** L2 norm of a float/double vector — same native fold. */
  def norm(v: Column): Column = call_function("norm_f64", v)

  /** Rows whose `vecCol` is non-null with a non-zero norm, the norm kept
    * in `normCol`: one norm-kernel evaluation per row — a filter on
    * `norm(v)` and a later score over it would each run the kernel (codegen
    * does not CSE across the filter/project boundary). Zero norms are
    * excluded because 0/0 = NaN (see `cosineToQuery`).
    */
  private def withNorm(df: DataFrame, vecCol: String, normCol: String): DataFrame =
    df.where(col(vecCol).isNotNull)
      .withColumn(normCol, norm(col(vecCol)))
      .where(col(normCol) > 0)

  private def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Cosine of every vector against one literal query vector. Zero-norm
    * rows are excluded up front: 0/0 = NaN, and Spark's total ordering
    * ranks NaN ABOVE 1.0 while `NaN >= threshold` is true — one padding /
    * failed-encode row would otherwise top every top-k and pass every
    * range filter (the integer dedup path has the same guard via n2 > 0).
    */
  def cosineToQuery(embs: DataFrame, query: Array[Float],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = array(query.map(x => lit(x.toDouble)): _*)
    val qn = math.sqrt(query.map(x => x.toDouble * x.toDouble).sum)
    require(qn > 0.0, "query vector has zero norm — cosine is undefined")
    withNorm(embs, vecCol, "_n")
      .select(
        col(idCol),
        (dot(col(vecCol), q) / (col("_n") * lit(qn))).as("cosine"))
  }

  /** Brute-force cosine top-k for one query vector (excludes exact id match
    * when `excludeId` is set). Deterministic tiebreak on id.
    */
  def bruteForceTopK(embs: DataFrame, query: Array[Float], k: Int,
      excludeId: Option[Long] = None, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val scored = cosineToQuery(embs, query, idCol, vecCol)
    val base = excludeId.fold(scored)(i => scored.where(col(idCol) =!= i))
    base.orderBy(col("cosine").desc, col(idCol)).limit(k)
      .select(col(idCol), round(col("cosine"), 4).as("cosine"))
  }

  /** Batch kNN JOIN: top-k cosine neighbors in `corpus` for EVERY query
    * row — multi-query ANN (retrieval evaluation, dedup-against-index,
    * hard-negative mining), where `bruteForceTopK` serves one query.
    *
    * The query side is small by contract (an eval/probe set) and
    * BROADCASTS; the corpus is scanned ONCE, narrow, scoring |Q| queries
    * per row — a deliberate O(|corpus|·|Q|) compute with NO corpus
    * shuffle; the only exchange is the per-query top-k window. Self-pairs
    * (same id) are excluded. For corpus-sized query sets use the IVF
    * index instead: assign both sides to centroid buckets and equi-join
    * on cid — same kernels, bucket-bounded candidates.
    *
    * Same sequential-fold double arithmetic as everything here, so a
    * DuckDB list_dot_product oracle reproduces scores bit-for-bit, and
    * the (cosine desc, id) tiebreak makes ranks engine-reproducible.
    *
    * Zero-norm/null vectors are EXCLUDED on both sides (cosine is
    * undefined for them): a zero-norm corpus row can match nothing, and a
    * zero-norm probe yields NO output rows for its qid — callers that
    * must distinguish "probe invalid" from "no neighbors" should validate
    * probes up front (same contract as cosineToQuery's require).
    */
  def knnJoin(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qidCol: String = "qid", qvecCol: String = "qvec",
      pairFilter: Column = lit(true)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(qidCol)).orderBy(col("cosine").desc, col(idCol))
    // norms once per corpus row / per probe, not per (corpus, probe) pair
    withNorm(corpus, vecCol, "_cn")
      .crossJoin(broadcast(withNorm(queries, qvecCol, "_qn")))
      .where(col(idCol) =!= col(qidCol) && pairFilter)
      .withColumn("cosine",
        dot(col(vecCol), col(qvecCol)) / (col("_cn") * col("_qn")))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col(qidCol), col(idCol), round(col("cosine"), 4).as("cosine"), col("rk"))
  }

  /** HARD-NEGATIVE MINING: for every probe, the top-k nearest corpus
    * vectors carrying a DIFFERENT label — the contrastive-training data
    * op (high-cosine, wrong-class pairs are the negatives that move the
    * loss; same-label neighbors are excluded BEFORE ranking, not after,
    * so the k slots all hold true negatives). `knnJoin`'s broadcast-probe
    * shape with the label mismatch as a pair predicate: the corpus is
    * scanned once, narrow, and the predicate runs inside the same
    * codegen'd stage as the cosine — no second pass, no post-filter
    * underfill. Probes carry (`qidCol`, `qvecCol`, `qlabelCol`); the
    * corpus label column is `labelCol`.
    */
  def hardNegatives(corpus: DataFrame, probes: DataFrame, k: Int,
      labelCol: String = "label", qlabelCol: String = "qlabel",
      idCol: String = "vec_id", vecCol: String = "embedding",
      qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame =
    knnJoin(corpus, probes, k, idCol, vecCol, qidCol, qvecCol,
      pairFilter = col(labelCol) =!= col(qlabelCol))

  /** CORPUS-SCALE batch kNN join: exact top-k cosine neighbors for every
    * query row when the query side is itself corpus-sized (dedup-against-
    * index, hard-negative mining) — the regime `knnJoin`'s broadcast-probe
    * contract excludes. NOTHING broadcasts but the centroid matrix
    * (nlist × dims doubles, riding the plan as a codegen reference
    * object); both sides meet ONLY in cid equi-joins.
    *
    * Plan shape (the probeAndExpand driver loop recast as per-probe COLUMN
    * computation so it distributes):
    *   1. corpus → IVF index (cid per row; centroids + per-bucket radii on
    *      the driver, k-means over a bounded sample);
    *   2. each probe computes its distance array to ALL centroids in one
    *      narrow codegen'd kernel (`centroid_dists`), slices the nProbe
    *      nearest cids, explodes → cid equi-join with the index → per-qid
    *      running top-k gives the kth-best-so-far cosine δ_q;
    *   3. exact expansion: every UNPROBED bucket whose triangle-inequality
    *      lower bound ‖q−c_j‖ − radius_j could still beat δ_q (all of
    *      them when the probed buckets held < k candidates) explodes the
    *      same way → second cid equi-join → union with step 2's
    *      candidates → final top-k rerank.
    *
    * Recall is 1.0 by construction (the same exactness argument as
    * `ivfSearch`, per probe); scores/ranks are bit-identical to `knnJoin`
    * (same sequential-fold double cosine, same (cosine desc, id)
    * tiebreak) — OpsSpec pins equality. Pruning power is data-dependent:
    * clustered corpora probe ~nProbe/nlist of the data per query; uniform
    * noise degenerates toward the full scan that exactness requires.
    *
    * Scale: shuffles are cid equi-joins (AQE handles hot buckets) + the
    * per-qid top-k windows; corpus vectors are scanned where they lie and
    * never broadcast (PlanSpec asserts no cartesian/BNLJ). The index is
    * persisted for its two probe phases — callers at true scale should
    * `writeIvfIndex` once and reuse.
    */
  def knnJoinBucketed(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 64, nProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    val (assigned, model) = buildIvfIndex(corpus, nlist, idCol = idCol, vecCol = vecCol)
    knnJoinBucketedOn(assigned, model, queries, k, nProbe, idCol, vecCol,
      qidCol, qvecCol)
  }

  /** The corpus-scale kNN join over a PREBUILT index — the daily-runnable
    * form: the corpus side is a `readIvfIndex` table (cid-partitioned at
    * rest, centroids/radii from the sidecar), so a probe batch pays two
    * cid equi-joins against parquet that never re-clusters and never
    * re-scans more buckets than exactness demands. Same recall-1.0
    * machinery as `knnJoinBucketed` (which now delegates here after its
    * inline build).
    */
  def knnJoinBucketedOn(indexIn: DataFrame, model: IvfModel,
      queries: DataFrame, k: Int, nProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && nProbe >= 1, "knnJoinBucketed: bad params")
    // index-side norms computed once per row into the persisted probe table
    // (r7b — the cosineSelfJoin move): both candidate phases previously
    // re-ran the norm kernel per (candidate, probe) pair
    val index = indexIn.select(col(idCol), col(vecCol), col("cid"))
      .withColumn("_inrm", norm(col(vecCol))).persist()
    val nP = math.min(nProbe, model.nlist)
    val isFloatQ = isFloatVec(queries, qvecCol)

    // per-probe probe plan, fully columnar: dist array → nProbe nearest cids
    val cidSeq = sequence(lit(0), lit(model.nlist - 1))
    val qd = withNorm(queries, qvecCol, "_qnrm")
      .withColumn("_cd", graft.functions.VectorFunctions.centroidDists(
        col(qvecCol), model.centroids, isFloatQ))
      .withColumn("_probed", transform(
        slice(array_sort(zip_with(col("_cd"), cidSeq,
          (d, i) => struct(d.as("d"), i.as("i")))), 1, nP),
        s => s.getField("i")))
      .persist()

    def cosineTo(candidates: DataFrame): DataFrame = candidates
      .where(col(idCol) =!= col(qidCol))
      .withColumn("cosine",
        dot(col(vecCol), col(qvecCol)) / (col("_inrm") * col("_qnrm")))
      .select(col(qidCol), col(idCol), col("cosine"))

    val w = Window.partitionBy(col(qidCol)).orderBy(col("cosine").desc, col(idCol))
    // persisted: the probed-bucket candidates feed BOTH the δ_q aggregate
    // and the final union — without the cache the probe explode + cid join
    // + cosine re-run (same lifecycle contract as the other cached
    // intermediates here: the session harness releases via clearCache)
    val cand1 = cosineTo(
      qd.select(col(qidCol), col(qvecCol), col("_qnrm"),
          explode(col("_probed")).as("cid"))
        .join(index, "cid")).persist()
    // δ_q = kth-best cosine among the probed buckets (UNROUNDED), and how
    // many candidates they actually held — both per probe, one aggregation
    val stats = cand1.withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .groupBy(col(qidCol))
      .agg(max(col("rk")).as("_cnt"), min(col("cosine")).as("_kth"))
    // exact expansion set: cosine δ ⇔ normalized-space distance √(2−2δ);
    // a probe with < k candidates so far must visit every unprobed bucket
    val radii = array(model.radii.map(x => lit(x)): _*)
    val expanded = qd.join(stats, Seq(qidCol), "left")
      .withColumn("_dRad",
        when(col("_cnt").isNull || col("_cnt") < k, lit(Double.MaxValue))
          .otherwise(sqrt(greatest(lit(0.0), lit(2.0) - lit(2.0) * col("_kth"))) + lit(1e-9)))
      .withColumn("_exp", filter(cidSeq, j =>
        !array_contains(col("_probed"), j) &&
          element_at(col("_cd"), j + 1) - element_at(radii, j + 1) <= col("_dRad")))
    val cand2 = cosineTo(
      expanded.select(col(qidCol), col(qvecCol), col("_qnrm"),
          explode(col("_exp")).as("cid"))
        .join(index, "cid"))
    cand1.unionByName(cand2)
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col(qidCol), col(idCol), round(col("cosine"), 4).as("cosine"), col("rk"))
  }

  /** All-pairs cosine-threshold SELF-join — the pair stage of semantic
    * dedup (SemDeDup, Abbas et al. 2023 — public technique), with an EXACT
    * contract: every pair at cosine ≥ `threshold` is produced; clustering
    * only accelerates, it never decides. Centroid blocking: each vector
    * gets its distance array to the k-means centroids (normalized space,
    * one `centroid_dists` kernel pass), a HOME cell (its nearest), and is
    * REPLICATED into every cell within (home distance + 2r), where
    * r = √(2−2τ) is the threshold's chord radius on the unit sphere. For
    * any pair (a,b) within r, the triangle inequality gives
    * d(b, c_a) ≤ d(b, c_b) + 2r, so b's replicas reach a's home cell and
    * the pair meets in the home×replica cid equi-join — recall 1.0 by
    * construction, verified pairs only pay the exact cosine.
    *
    * Scale: NOTHING broadcasts but the centroid matrix; both sides meet
    * only in cid equi-joins (the q43 discipline); replication factor is
    * data-dependent but bounded by how many cells sit within 2r of a
    * point's home — tight clusters at high thresholds replicate ~1.
    * The exact cosine uses the same fold order on both join sides, so the
    * value is symmetric and the canonical (least, greatest) id order
    * cannot disagree with the verify.
    */
  def cosineSelfJoin(embs: DataFrame, threshold: Double, nlist: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(threshold > -1.0 && threshold < 1.0,
      s"cosineSelfJoin: threshold must be in (-1, 1), got $threshold")
    val clean = withNorm(embs, vecCol, "_nrm")
    val cents = kmeansCentroids(clean, nlist, idCol = idCol, vecCol = vecCol)
    val isF = isFloatVec(embs, vecCol)
    val twoR = 2.0 * math.sqrt(math.max(0.0, 2.0 - 2.0 * threshold))
    val cidSeq = sequence(lit(0), lit(cents.length - 1))
    // norms are computed ONCE PER VECTOR here and carried through the join
    // (r7b): the verify previously re-ran the norm kernel per CANDIDATE
    // PAIR — 2×dims extra flops per pair, ~2/3 of the verify stage's cost
    // (BenchExtra: join-no-verify 0.49 s vs pairs 1.59 s at sf0.1).
    // Identical values by construction: same kernel, same input vector,
    // and the product _na·_nb is the exact expression norm(a)·norm(b) was.
    val assigned = clean.select(col(idCol), col(vecCol), col("_nrm"))
      .withColumn("_cd", graft.functions.VectorFunctions.centroidDists(
        col(vecCol), cents, isF))
      .withColumn("_hd", array_min(col("_cd")))
    val home = assigned
      .withColumn("cid", (array_position(col("_cd"), col("_hd")) - 1).cast("int"))
      .select(col(idCol).as("_ida"), col(vecCol).as("_va"),
        col("_nrm").as("_na"), col("cid"))
    val replicas = assigned
      .withColumn("cid", explode(filter(cidSeq, j =>
        element_at(col("_cd"), j + 1) <= col("_hd") + lit(twoR))))
      .select(col(idCol).as("_idb"), col(vecCol).as("_vb"),
        col("_nrm").as("_nb"), col("cid"))
    // r7: the recall argument is ORIENTATION-AGNOSTIC — for any qualifying
    // pair (a, b), d(b, c_a) ≤ d(b, c_b) + 2r, so b's replicas reach a's
    // home cell for EITHER role assignment. Keeping only the (home id <
    // replica id) orientation therefore still meets every pair exactly
    // once (a has one home cell; b contributes one replica row per cell),
    // which HALVES the verified candidate volume and makes the
    // dropDuplicates shuffle unnecessary. Output rows are identical: the
    // join predicate itself enforces the (least, greatest) canonical order,
    // and the cosine expression is symmetric by fold order (same kernel,
    // both sides' vectors unchanged). ModelCheckSpec pins == brute force
    // on clustered and uniform corpora.
    home.join(replicas, "cid")
      .where(col("_ida") < col("_idb"))
      .withColumn("cosine",
        dot(col("_va"), col("_vb")) / (col("_na") * col("_nb")))
      .where(col("cosine") >= threshold)
      .select(col("_ida").as("id1"), col("_idb").as("id2"), col("cosine"))
  }

  // ------------------------------- IVF -------------------------------
  //
  // Index: vectors are normalized to the unit sphere (cosine ⇔ L2 there),
  // k-means-clustered, and stored with (cid, cdist) — optionally persisted
  // as a parquet table physically partitioned by cid, so a probe is a
  // partition-pruned read at rest.
  //
  // Search is EXACT, not best-effort: probe the nProbe buckets nearest the
  // query, take the kth-best cosine δ found there, then additionally scan
  // every bucket whose triangle-inequality lower bound ‖q−c_j‖ − radius_j
  // could still beat δ. Pruning power is data-dependent (clustered corpora
  // prune almost everything, uniform noise prunes little) but recall is
  // 1.0 by construction — IVF never silently trades correctness here.

  /** IVF model: normalized-space centroids + per-bucket max distance. */
  final case class IvfModel(centroids: Array[Array[Double]], radii: Array[Double]) {
    def nlist: Int = centroids.length
  }

  private def normalize(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n > 0) v.map(_ / n) else v
  }

  private def l2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    val m = math.min(a.length, b.length)
    while (i < m) { val t = a(i) - b(i); s += t * t; i += 1 }
    math.sqrt(s)
  }

  private[ops] def isFloatVec(embs: DataFrame, vecCol: String): Boolean =
    embs.schema(vecCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    }

  /** Deterministic sampled k-means(++) in normalized space: sample by
    * hash-order (TakeOrdered — no full sort), seed with k-means++ from a
    * fixed-seed RNG, run Lloyd iterations on the driver. Sample size and
    * iterations bound driver work regardless of corpus size.
    */
  def kmeansCentroids(embs: DataFrame, nlist: Int, sampleSize: Int = 10000,
      iters: Int = 10, seed: Long = 42L, idCol: String = "vec_id",
      vecCol: String = "embedding"): Array[Array[Double]] = {
    val sample = embs
      .orderBy(xxhash64(col(idCol).cast("string"), lit(seed)), col(idCol))
      .limit(sampleSize)
      .select(asDouble(col(vecCol)))
      .collect()
      .map(r => normalize(r.getSeq[Double](0).toArray))
    require(sample.nonEmpty, "k-means needs a non-empty sample")
    val k = math.min(nlist, sample.length)
    val rng = new scala.util.Random(seed)
    // k-means++ seeding with the min-distance array MAINTAINED
    // incrementally (r7): recomputing min-over-all-centroids per round is
    // O(n·k²·d) — ~0.7 s of single-threaded driver time at the q15
    // operating point — while updating against only the newest centroid is
    // O(n·k·d). The d2 values (and therefore the RNG draw sequence and the
    // chosen centroids) are IDENTICAL to the recompute-from-scratch form.
    val cents = scala.collection.mutable.ArrayBuffer[Array[Double]]()
    cents += sample(rng.nextInt(sample.length))
    val d2 = sample.map(p => { val d = l2(p, cents(0)); d * d })
    while (cents.length < k) {
      val total = d2.sum
      if (total <= 0) cents += sample(rng.nextInt(sample.length))
      else {
        var r = rng.nextDouble() * total
        var i = 0
        while (i < d2.length - 1 && r > d2(i)) { r -= d2(i); i += 1 }
        cents += sample(i)
      }
      val latest = cents.last
      var j = 0
      while (j < sample.length) {
        val d = l2(sample(j), latest)
        if (d * d < d2(j)) d2(j) = d * d
        j += 1
      }
    }
    // Lloyd
    val c = cents.map(_.clone()).toArray
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](sample(0).length))
      val counts = new Array[Int](k)
      sample.foreach { p =>
        var best = 0; var bd = Double.MaxValue; var j = 0
        while (j < k) { val d = l2(p, c(j)); if (d < bd) { bd = d; best = j }; j += 1 }
        counts(best) += 1
        var i = 0
        while (i < p.length) { sums(best)(i) += p(i); i += 1 }
      }
      for (j <- 0 until k if counts(j) > 0) {
        var i = 0
        while (i < c(j).length) { c(j)(i) = sums(j)(i) / counts(j); i += 1 }
      }
    }
    c
  }

  /** Build the in-memory IVF index: (original columns + cid + cdist) and
    * the model. Assignment is the narrow codegen'd `nearest_centroid`
    * expression; the radius pass is one small aggregate.
    */
  def buildIvfIndex(embs: DataFrame, nlist: Int = 64, sampleSize: Int = 10000,
      seed: Long = 42L, idCol: String = "vec_id",
      vecCol: String = "embedding"): (DataFrame, IvfModel) = {
    // null / zero-norm rows can't live on the unit sphere (normalize would
    // mint NaN centroids, a null cid would NPE the radius pass) — exclude
    // them from the index, matching the search paths' guard
    val clean = withNorm(embs, vecCol, "_n").drop("_n")
    val cents = kmeansCentroids(clean, nlist, sampleSize, seed = seed,
      idCol = idCol, vecCol = vecCol)
    val assigned = clean
      .withColumn("_asn", graft.functions.VectorFunctions.nearestCentroid(
        col(vecCol), cents, isFloatVec(embs, vecCol)))
      .withColumn("cid", col("_asn.cid"))
      .withColumn("cdist", col("_asn.dist"))
      .drop("_asn")
    val radii = new Array[Double](cents.length)
    assigned.groupBy("cid").agg(max("cdist")).collect()
      .foreach(r => radii(r.getInt(0)) = r.getDouble(1))
    (assigned, IvfModel(cents, radii))
  }

  /** Persist the index as a cid-partitioned parquet table + JSON model
    * sidecar: probes become partition-pruned selective reads at rest.
    */
  def writeIvfIndex(embs: DataFrame, dir: String, nlist: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): IvfModel = {
    val (assigned, model) = buildIvfIndex(embs, nlist, idCol = idCol, vecCol = vecCol)
    assigned.write.mode("overwrite").partitionBy("cid").parquet(s"$dir/index")
    writeModelSidecar(embs.sparkSession, dir, model)
    model
  }

  /** Publish the model sidecar through the Hadoop FS API, atomically (r7,
    * VERDICT r6 #2 / ADVICE): `java.nio` wrote to the DRIVER'S LOCAL disk —
    * on any non-local filesystem the parquet landed on the cluster FS and
    * the sidecar did not, bricking `readIvfIndex` — and a truncating
    * in-place write left a torn-sidecar window `appendIvfIndex`'s
    * radius-merge crash-safety story explicitly excludes. `writeAtomic`'s
    * temp + single rename is the repo's established visibility point: a
    * crash before the rename leaves the previous (valid) sidecar, a crash
    * after leaves the new (valid) one — a torn sidecar is impossible at
    * any point.
    */
  private def writeModelSidecar(spark: org.apache.spark.sql.SparkSession,
      dir: String, model: IvfModel): Unit = {
    val json = model.centroids.indices.map { j =>
      s"""{"cid":$j,"radius":${model.radii(j)},"centroid":[${model.centroids(j).mkString(",")}]}"""
    }.mkString("\n")
    val p = new org.apache.hadoop.fs.Path(dir, "model.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p.getParent)
    graft.util.FsText.writeAtomicOverwrite(fs, p, json)
  }

  /** Append new vectors to a stored IVF index WITHOUT re-training — the
    * maintenance half of the ANN-at-rest story (the `appendGramIndex`
    * twin): new vectors are assigned to the EXISTING centroids and land
    * in their cid partitions, so the daily embedding batch pays one
    * narrow assignment scan instead of a 100 TB re-cluster. Centroids
    * never move on append (standard IVF maintenance — re-train via
    * `writeIvfIndex` when drift degrades bucket balance).
    *
    * Exactness is preserved by a CONSERVATIVE radius merge, ordered for
    * crash-safety: search correctness needs each stored radius ≥ the max
    * member distance of its bucket (an understated radius prunes a
    * bucket that could hold a true top-k hit; an overstated one only
    * probes more). So the sidecar is rewritten with the merged radii
    * BEFORE any row is appended — a crash between the two leaves a
    * correct, slightly-over-probing index, never a wrong one. A crash
    * mid-row-append can leave a torn batch (same contract as
    * `appendGramIndex`: each vec_id at most once, wrap in exactly-once
    * machinery when the upstream can redeliver).
    *
    * Returns the merged model.
    */
  def appendIvfIndex(newEmbs: DataFrame, dir: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): IvfModel = {
    val spark = newEmbs.sparkSession
    val (_, model) = readIvfIndex(spark, dir) // validates the sidecar
    val clean = withNorm(newEmbs, vecCol, "_n").drop("_n")
    val assigned = clean
      .withColumn("_asn", graft.functions.VectorFunctions.nearestCentroid(
        col(vecCol), model.centroids, isFloatVec(newEmbs, vecCol)))
      .withColumn("cid", col("_asn.cid"))
      .withColumn("cdist", col("_asn.dist"))
      .drop("_asn")
      .cache()
    try {
      val grown = assigned.groupBy("cid").agg(max("cdist")).collect()
        .map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val merged = IvfModel(model.centroids,
        model.radii.indices.map(j =>
          math.max(model.radii(j), grown.getOrElse(j, 0.0))).toArray)
      // sidecar FIRST (over-probing is safe, under-probing is not), and
      // atomically via the Hadoop FS — see writeModelSidecar
      writeModelSidecar(spark, dir, merged)
      assigned.write.mode("append").partitionBy("cid").parquet(s"$dir/index")
      merged
    } finally { assigned.unpersist(); () }
  }

  def readIvfIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, IvfModel) = {
    // a REAL JSON parse of the NDJSON sidecar (schema-pinned, _corrupt_
    // records rejected loudly) — not a regex over the writer's formatting
    import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("cid", IntegerType), StructField("radius", DoubleType),
      StructField("centroid", ArrayType(DoubleType))))
    val rows = spark.read.schema(schema)
      .option("mode", "FAILFAST").json(s"$dir/model.json").collect()
    require(rows.nonEmpty &&
        rows.forall(r => !r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2)),
      s"$dir/model.json is not an IVF model sidecar")
    val parsed = rows
      .map(r => (r.getInt(0), r.getDouble(1), r.getSeq[Double](2).toArray))
      .sortBy(_._1)
    require(parsed.map(_._1).toSeq == parsed.indices.toSeq,
      s"$dir/model.json: cids must be exactly 0..${parsed.length - 1}")
    val model = IvfModel(parsed.map(_._3), parsed.map(_._2))
    (spark.read.parquet(s"$dir/index"), model)
  }

  /** The probe plan: (probed buckets, expansion buckets). Probed = nProbe
    * nearest centroids; expansion = buckets whose lower bound could still
    * beat the kth-best cosine found in the probed set (empty on
    * well-clustered data — the exactness escape hatch everywhere else).
    */
  private[graft] def probeAndExpand(index: DataFrame, model: IvfModel,
      query: Array[Float], k: Int, nProbe: Int, excludeId: Option[Long],
      idCol: String, vecCol: String): (Seq[Int], Seq[Int]) = {
    val qn = normalize(query.map(_.toDouble))
    val cd = model.centroids.map(c => l2(qn, c))
    val probed = cd.zipWithIndex.sortBy { case (d, j) => (d, j) }
      .take(math.min(nProbe, model.nlist)).map(_._2).toSeq
    // kth best cosine in the probed buckets, unrounded
    val scored = cosineToQuery(
      index.where(col("cid").isin(probed: _*)), query, idCol, vecCol)
    val base = excludeId.fold(scored)(i => scored.where(col(idCol) =!= i))
    val top = base.orderBy(col("cosine").desc, col(idCol)).limit(k).collect()
    val expanded =
      if (top.length < k) model.centroids.indices.filterNot(probed.contains)
      else {
        val kthCos = top.last.getDouble(1)
        // cosine δ ⇔ normalized-space distance √(2−2δ); ε guards FP noise
        val dRad = math.sqrt(math.max(0.0, 2.0 - 2.0 * kthCos)) + 1e-9
        model.centroids.indices
          .filterNot(probed.contains)
          .filter(j => cd(j) - model.radii(j) <= dRad)
      }
    (probed, expanded)
  }

  /** Exact IVF top-k over a prebuilt index (see class comment). The final
    * rerank runs the same expression pipeline as `bruteForceTopK`, so the
    * output is bit-identical to the brute-force oracle.
    */
  def ivfSearch(index: DataFrame, model: IvfModel, query: Array[Float], k: Int,
      nProbe: Int = 4, excludeId: Option[Long] = None, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val (probed, expanded) = probeAndExpand(index, model, query, k, nProbe,
      excludeId, idCol, vecCol)
    val buckets = probed ++ expanded
    bruteForceTopK(index.where(col("cid").isin(buckets: _*)), query, k,
      excludeId, idCol, vecCol)
  }

  /** FILTERED ANN: exact top-k among the index rows satisfying a metadata
    * predicate (the "filtered vector search" every vector store treats as
    * first-class — search within a language, a source, a date range). The
    * filter applies BEFORE the distance compute — pre-filtering, so the k
    * results are the true top-k of the filtered set, never a post-filtered
    * underfill — and, on a `readIvfIndex` table, it pushes down to the
    * parquet scan of the at-rest index, composing with the cid partition
    * prune (PlanSpec pins PushedFilters).
    *
    * Exactness under filtering: bucket radii were computed over ALL
    * members, which upper-bounds the distance of any FILTERED member, so
    * the triangle-inequality expansion stays conservative — it can only
    * over-probe, never wrongly prune (and a probed set with < k survivors
    * expands to every bucket, as always).
    */
  def filteredSearch(index: DataFrame, model: IvfModel, query: Array[Float],
      pred: Column, k: Int, nProbe: Int = 4, excludeId: Option[Long] = None,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfSearch(index.where(pred), model, query, k, nProbe, excludeId,
      idCol, vecCol)

  /** Build + search in one call (q15). The index cache lives only for the
    * duration of the search: the k result rows are materialized eagerly and
    * the cache released before returning (the r2 bench leaked one cached
    * index per invocation). Long-lived callers should build the index once
    * (`buildIvfIndex`/`writeIvfIndex`) and manage its lifecycle themselves.
    */
  def ivfTopK(embs: DataFrame, query: Array[Float], k: Int, nlist: Int = 64,
      nProbe: Int = 4, excludeId: Option[Long] = None,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (index, model) = buildIvfIndex(embs, nlist, idCol = idCol, vecCol = vecCol)
    val cached = index.persist()
    try {
      val out = ivfSearch(cached, model, query, k, nProbe, excludeId, idCol, vecCol)
      val rows = out.collect() // ≤ k rows by construction
      embs.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows: _*), out.schema)
    } finally { cached.unpersist(); () }
  }

  /** The IVF buckets that can contain a vector with cosine ≥ t to `query`
    * (triangle inequality: ‖qn−c_j‖ − radius_j ≤ √(2−2t)); exact. */
  private[graft] def rangeBuckets(model: IvfModel, query: Array[Float],
      threshold: Double): Seq[Int] = {
    val qn = normalize(query.map(_.toDouble))
    val dRad = math.sqrt(math.max(0.0, 2.0 - 2.0 * threshold)) + 1e-9
    model.centroids.indices
      .filter(j => l2(qn, model.centroids(j)) - model.radii(j) <= dRad)
  }

  /** Exact cosine range search over a prebuilt index: every vector with
    * cosine ≥ threshold to the query. The bucket prune is exact (triangle
    * inequality in normalized space), the filter is the same raw-double
    * cosine expression as the brute-force oracle.
    */
  def rangeSearch(index: DataFrame, model: IvfModel, query: Array[Float],
      threshold: Double, excludeId: Option[Long] = None,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val buckets = rangeBuckets(model, query, threshold)
    val scoped =
      if (buckets.isEmpty) index.limit(0)
      else index.where(col("cid").isin(buckets: _*))
    val scored = cosineToQuery(scoped, query, idCol, vecCol)
    val base = excludeId.fold(scored)(i => scored.where(col(idCol) =!= i))
    base.where(col("cosine") >= threshold)
      .select(col(idCol), round(col("cosine"), 4).as("cosine"))
  }

  /** Build + range search in one call (q25). */
  def ivfRangeSearch(embs: DataFrame, query: Array[Float], threshold: Double,
      nlist: Int = 64, excludeId: Option[Long] = None,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (index, model) = buildIvfIndex(embs, nlist, idCol = idCol, vecCol = vecCol)
    rangeSearch(index, model, query, threshold, excludeId, idCol, vecCol)
  }
}
