package graft

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** spark.ml port of the reference's sklearn advisor pipeline
  * (reference scripts/train_advisor.py:106-126): standard-scale the RFM
  * features, KMeans k=5, fixed seed. The reference also imputes medians —
  * our features are already null-free (coalesced in Gold.clientFeatures),
  * so the imputer stage is unnecessary.
  *
  * The segmentation fit itself is [[kmeansFit]] — a deterministic
  * Lloyd's implementation (hash-ordered init, order-independent decimal
  * sums) rather than spark.ml KMeans, exactly so the assignment is
  * bit-identical across partition layouts and golden-pinnable; iterative
  * float fits that remain layout-tolerant only in value (LR) stay on
  * spark.ml and are digest-pinned at a rounded canon instead. */
object Ml {
  import org.apache.spark.sql.expressions.Window

  /** IVF-style approximate nearest neighbor (the third ANN tier next to
    * Llm.knnBruteforce / Llm.knnLsh): KMeans coarse quantizer → vectors
    * bucketed by nearest centroid → probes scored only inside their
    * `nprobe` nearest cells. The centroid list is a driver-folded literal
    * (same two-phase shape as the scoring thresholds); cell assignment
    * and probing are fully distributed.
    *
    * Default nprobe=8 of nlist=16 cells clears the 0.8 recall@5 floor on
    * the synthetic near-uniform test vectors (neighbors at cos≈0.3, the
    * adversarial case for a coarse quantizer); a real corpus with
    * clustered neighbors runs nprobe≪nlist (e.g. 8 of 1024) for the
    * same recall.
    *
    * The coarse quantizer is an argument ([[ivfCentroids]]), persisted
    * EXTERNALLY — the form a vector store actually serves (quantizer
    * trained on a schedule, searches run against the persisted index).
    * Cell assignment and nprobe probing are the same explicit
    * squared-L2 argmin expression as [[ivfAssignDelta]] — (dist, idx)
    * struct sort, ties to the lower cell — NOT the opaque
    * `model.transform` (whose norm-trick distance shortcut rounds
    * differently), so the DuckDB oracle can restate assignment,
    * probing, and the cosine top-k exactly from the same centroid
    * parquet. One pass computes each vector's full sorted cell-distance
    * list; assignment takes element 1, probes take the first nprobe. */
  def knnIvfFrom(embeddings: DataFrame, centroids: DataFrame,
      nProbes: Int = 10, k: Int = 5, nprobe: Int = 8): DataFrame = {
    val cents = centroids.select("cell", "centroid").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1)
    val centArr = typedlit(cents.map(_._2).toSeq)
    val cellIds = typedlit(cents.map(_._1).toSeq)
    val dists = transform(sequence(lit(0), lit(cents.length - 1)), ci =>
      struct(
        aggregate(zip_with(col("emb"), element_at(centArr, ci + 1),
          (x, c) => (x - c) * (x - c)), lit(0.0), (a, v) => a + v).as("d"),
        ci.as("idx")))
    val e = embeddings.select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
      .withColumn("cells", array_sort(dists))
    val assigned = e.select(col("vec_id"), col("emb"),
      element_at(cellIds, element_at(col("cells"), 1)("idx") + 1).as("cell"))
    val probes = e.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("emb").as("pemb"),
        explode(transform(slice(col("cells"), 1, nprobe),
          s => element_at(cellIds, s("idx") + 1))).as("cell"))

    probes.join(assigned, Seq("cell")).filter(col("vec_id") =!= col("probe_id"))
      .withColumn("sim", round(
        graft.functions.CosineSimilarity.cosine_sim(col("pemb"), col("emb")), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy("probe_id").orderBy(desc("sim"), col("vec_id"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("rank"), col("sim"))
      .orderBy("probe_id", "rank")
  }

  /** Per-label embedding centroids in LONG form (label, dim, mean) —
    * the vector aggregation under IVF coarse-quantizer training and
    * cluster labeling, kept at the (label, dim) grain deliberately:
    * the row-local posexplode feeds a plain hash aggregate with
    * map-side partial sums on small fixed-width keys, which scales to
    * any corpus, while reassembling arrays (collect_list per label)
    * concentrates whole centroids in single reducers and adds an
    * ordering hazard for zero analytical gain. Exactly oracle-checkable,
    * unlike the iterative KMeans the quantizer tiers run on top. */
  def labelCentroids(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg(round(avg("x"), 6).as("mean_x"), count(lit(1)).as("n"))
      .orderBy("label", "pos")

  /** PCA over the embedding corpus (spark.ml, k components): the
    * decomposition next to [[labelCentroids]]' means — explained
    * variance ratios per component plus each component's top-loading
    * dimension. The fit is one covariance treeAggregate (a DIM×DIM
    * matrix per partition, merged associatively — constant-size partials
    * at any corpus scale) and an in-driver eigendecomposition of the
    * tiny DIM×DIM result; projection would be a broadcast matrix
    * multiply, never a shuffle. Outputs are SIGN-FREE (variance ratios,
    * |loading| argmax) because eigenvector sign is arbitrary; gated
    * rows-only (iterative/float linear algebra is not oracle-stable in
    * the last ulps) + a StreamsSpec determinism/ordering gate. */
  def embeddingPca(embeddings: DataFrame, k: Int = 2): DataFrame =
    embeddingPcaFit(embeddings, k)._1

  /** [[embeddingPca]] plus the fitted SIGNED component vectors
    * ((component 1-based, loading array over dims) — the persisted-
    * artifact form): the caller persists the
    * components next to the IVF centroids and the DuckDB oracle
    * restates from them (a) pairwise orthonormality, (b) each
    * component's explained-variance ratio as the VARIANCE OF THE
    * PROJECTION over the source embeddings divided by the total
    * per-dimension variance (vᵀΣv / trace Σ — the n-vs-n−1 convention
    * cancels in the ratio), and (c) top-|loading| dimension — so the
    * published decomposition is semantically verified against an
    * independent engine's linear algebra each round instead of
    * digest-pinned. */
  def embeddingPcaFit(embeddings: DataFrame, k: Int = 2): (DataFrame, DataFrame) = {
    import org.apache.spark.ml.feature.{PCA => MlPCA}
    import org.apache.spark.ml.functions.array_to_vector
    val df = embeddings.select(
      array_to_vector(col("embedding").cast("array<double>")).as("features"))
    // fail-loud precondition (EmptyInputSpec whitelist): PCA of an
    // empty corpus has no covariance to decompose
    require(!df.isEmpty, "embeddingPca: no embedding rows to decompose")
    val model = new MlPCA().setInputCol("features").setOutputCol("pc")
      .setK(k).fit(df)
    val ev = model.explainedVariance.toArray
    val pc = model.pc // DIM × k, column-major
    val rows = (0 until k).map { c =>
      val loadings = (0 until pc.numRows).map(r => math.abs(pc(r, c)))
      val top = loadings.indices.maxBy(loadings)
      (c + 1, math.rint(ev(c) * 1e4) / 1e4, top, math.rint(loadings(top) * 1e3) / 1e3)
    }
    val comps = (0 until k).map { c =>
      (c + 1, (0 until pc.numRows).map(r => pc(r, c)))
    }
    val s = embeddings.sparkSession
    import s.implicits._
    (rows.toDF("component", "explained_variance", "top_dim", "top_abs_loading"),
      comps.toDF("component", "loading"))
  }

  /** Scalar-quantized (int8) approximate nearest neighbor — the STORAGE
    * scale path next to the compute tiers (Llm.knnLsh prunes candidates,
    * [[knnIvfFrom]] prunes cells; this shrinks the vectors themselves).
    * Each dimension is affinely mapped to 0..255 by its global [min, max];
    * a 100 TB float corpus becomes 25 TB of bytes plus a dim-sized
    * codebook, and at that scale the quantized copy is what every
    * scoring pass scans. Search is asymmetric (standard SQ practice):
    * probes keep full precision, corpus vectors are dequantized to their
    * cell centers on the fly — the reconstruction is map-side arithmetic
    * inside the scoring pass, never a second materialized float copy.
    *
    * The per-dim [min, max] codebook is one posexplode → per-dimension
    * agg (a shuffle of DIM rows) folded to a driver literal — the same
    * two-phase shape as the scoring thresholds. Gated rows-only + a
    * LlmSpec recall floor vs knnBruteforce (8-bit SQ loses ~1e-2 of
    * cosine resolution; recall@5 on the synthetic vectors stays ≈1). */
  def knnQuantized(embeddings: DataFrame, nProbes: Int = 10, k: Int = 5): DataFrame = {
    val e = embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("emb"))
    val dims = e.select(posexplode(col("emb")).as(Seq("pos", "x")))
      .groupBy("pos").agg(min("x").as("lo"), max("x").as("hi"))
      .orderBy("pos").collect()
    val lo = typedlit(dims.map(_.getAs[Double]("lo")).toSeq)
    val span = typedlit(dims.map { r =>
      val s = r.getAs[Double]("hi") - r.getAs[Double]("lo")
      if (s > 0) s else 1.0 // degenerate constant dim: all codes 0, exact
    }.toSeq)
    // q in 0..255; dequantized center = lo + (q + 0.5) * span/256
    val codes = e.withColumn("q", zip_with(col("emb"),
      sequence(lit(0), lit(dims.length - 1)), (x, i) =>
        least(floor((x - element_at(lo, i + 1)) / element_at(span, i + 1) * 256),
          lit(255.0)).cast("int")))
    val deq = codes.select(col("vec_id"), zip_with(col("q"),
      sequence(lit(0), lit(dims.length - 1)), (q, i) =>
        element_at(lo, i + 1) +
          (q.cast("double") + 0.5) * element_at(span, i + 1) / 256.0).as("emb"))
    val probes = e.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("emb").as("pemb"))
    probes.crossJoin(deq).filter(col("vec_id") =!= col("probe_id"))
      .withColumn("sim", round(
        graft.functions.CosineSimilarity.cosine_sim(col("pemb"), col("emb")), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy("probe_id").orderBy(desc("sim"), col("vec_id"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("rank"), col("sim"))
      .orderBy("probe_id", "rank")
  }

  /** Labeled feature frame for one backtest window: features as of
    * `cutoff`, label = any valid order in (cutoff, labelEnd]. */
  private def labeledWindow(orders: DataFrame, lineitem: DataFrame,
      cutoff: Any, labelEnd: Any): DataFrame = {
    val feats = Gold.clientFeatures(
      orders.filter(col("o_orderdate") <= lit(cutoff)), lineitem, cutoff)
    val repurchased = Gold.validOrders(orders)
      .filter(col("o_orderdate") > lit(cutoff) &&
        col("o_orderdate") <= lit(labelEnd))
      .select(col("o_custkey").as("c_custkey")).distinct()
      .withColumn("label", lit(1.0))
    feats.join(repurchased, Seq("c_custkey"), "left")
      .na.fill(0.0, Seq("label"))
  }

  /** Supervised twin of the reference's heuristic repurchase score
    * (reference scripts/train_predictor.py:133-146 hard-codes the blend
    * 0.45·freq + 0.30·recency + 0.15·monetary + 0.10·diversity): learn
    * the weights instead with spark.ml LogisticRegression on a temporally
    * honest label, evaluated on a TEMPORAL HOLDOUT. Two consecutive
    * windows: the model fits on features as of `ref − 2·horizon` with
    * label "placed a valid order in the following horizon", then scores
    * features as of `ref − horizon` whose labels come from the final
    * horizon — rows the fit never saw, one period later. This is the
    * backtest the reference never runs: it reports held-out AUC next to
    * in-sample. (On the synthetic test data the held-out AUC sits at
    * chance — the generator assigns orders to customers uniformly, so
    * there IS no temporal signal; the in-sample number is pure overfit,
    * which is precisely what a backtest exists to expose. StreamsSpec
    * gates the held-out value to a band around 0.5: above it would mean
    * feature/label leakage.)
    *
    * Scale shape: each feature build is the audited one-pass conditional
    * agg; LR training is d=9 — each LBFGS iteration is one treeAggregate
    * of 9-element gradients, the model is a 10-double broadcast, scoring
    * is map-side. Nothing here is quadratic in customers.
    *
    * Like kmeans_segments this is gated rows-only + ScalaTest
    * (same-session determinism, held-out AUC floor) — training is
    * iterative float math, not SQL-expressible.
    *
    * Returns (scored holdout frame, 1-row metrics frame with
    * train/holdout sizes and in-sample vs held-out AUC). The AUC
    * evaluations are distributed (BinaryClassificationEvaluator
    * aggregates ROC per partition); only the two scalars land on the
    * driver. */
  def propensityBacktest(orders: DataFrame, lineitem: DataFrame,
      horizonDays: Int = Gold.HorizonDays, regParam: Double = 0.01,
      maxIter: Int = 64): (DataFrame, DataFrame) = {
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
    import org.apache.spark.ml.functions.vector_to_array
    val valid = Gold.validOrders(orders)
    // driver scalars, same idiom as Gold.referenceDate — typed Any for
    // the same TIMESTAMP/TIMESTAMP_NTZ reason
    val cut = valid.agg(
      max(col("o_orderdate")).as("ref"),
      (max(col("o_orderdate")) - expr(s"INTERVAL $horizonDays DAYS")).as("score_cutoff"),
      (max(col("o_orderdate")) - expr(s"INTERVAL ${2 * horizonDays} DAYS")).as("train_cutoff"))
      .first()
    // fail-loud precondition (EmptyInputSpec whitelist): no orders means
    // no cutoffs, no labels, nothing to fit — a clear error beats the
    // NULL-literal analysis failure the windows would otherwise hit
    require(!cut.isNullAt(0), "propensityBacktest: no valid orders to train on")
    val train = labeledWindow(orders, lineitem, cut.get(2), cut.get(1))
    val holdout = labeledWindow(orders, lineitem, cut.get(1), cut.get(0))

    val assembler = new VectorAssembler()
      .setInputCols(Array("freq_12m", "monetary_12m", "monetary_avg_12m",
        "product_diversity_12m", "recency_days", "tenure_days",
        "total_orders_all", "total_spend_all", "avg_order_value_all"))
      .setOutputCol("raw_features")
    val scaler = new StandardScaler()
      .setInputCol("raw_features").setOutputCol("features")
      .setWithMean(true).setWithStd(true)
    val lr = new LogisticRegression()
      .setMaxIter(maxIter).setRegParam(regParam)
      .setLabelCol("label").setFeaturesCol("features")
      .setProbabilityCol("prob")
    val model = new Pipeline().setStages(Array(assembler, scaler, lr)).fit(train)

    def score(df: DataFrame): DataFrame = model.transform(df)
      .select(col("c_custkey"), col("label").cast("long").as("label"),
        round(element_at(vector_to_array(col("prob")), 2), 6).as("propensity"),
        col("prediction").cast("long").as("prediction"))
    val scoredTrain = score(train)
    val scoredHoldout = score(holdout).orderBy("c_custkey")

    val ev = new BinaryClassificationEvaluator()
      .setLabelCol("label").setRawPredictionCol("propensity")
      .setMetricName("areaUnderROC")
    def auc(df: DataFrame): Double = ev.evaluate(
      df.select(col("label").cast("double").as("label"), col("propensity")))
    def r6(v: Double): Double = math.rint(v * 1e6) / 1e6
    val spark = orders.sparkSession
    val metrics = spark.range(1).select(
      lit(scoredTrain.count()).as("n_train"),
      lit(scoredHoldout.count()).as("n_holdout"),
      lit(r6(auc(scoredTrain))).as("auc_train"),
      lit(r6(auc(scoredHoldout))).as("auc_holdout"))
    (scoredHoldout, metrics)
  }

  /** The RFM columns the segmentation clusters on (same trio the
    * reference's advisor scales, reference scripts/train_advisor.py:106). */
  private val RfmCols = Seq("freq_12m", "monetary_12m", "recency_days")

  /** Deterministic scaled-RFM Lloyd's fit — every arithmetic step whose
    * result feeds back into the fit is ORDER-INDEPENDENT, so the
    * assignment is bit-identical across partition layouts (local[4] vs
    * local[32]) and golden-pinnable, unlike the spark.ml fit it replaces
    * (r15/r16 digest exemption: KMeans|| initialization samples per
    * partition, so the whole fit was layout-sensitive). Three pieces:
    *
    *  - standardization stats: sums and sum-of-squares in DECIMAL (the
    *    suite's exact-cents discipline — decimal addition is exact, so
    *    any partial-merge order yields the same total; the raw RFM
    *    columns are counts/2dp-money/days, all exactly representable in
    *    decimal(15,4)); mean/std derived on the driver.
    *  - initialization: the k hash-smallest DISTINCT scaled points
    *    (xxhash64 over the scaled tuple + seed — the Knuth-hash order
    *    idiom from Prep.sampleMix), a data-property, not a
    *    layout-property.
    *  - Lloyd's iterations: assignment is a per-row argmin over literal
    *    centers (ties to the lower cell via the (dist, idx) struct sort,
    *    the ivfAssignDelta idiom); new centers are decimal(38,18) sums /
    *    counts, divided on the driver at fixed scale. An emptied cluster
    *    keeps its previous center.
    *
    * Scale shape: per iteration ONE hash aggregate over the feature
    * frame (map-side partial sums on ≤k keys — a k×(dims+1) shuffle) and
    * a k-row collect; the frame is cached across iterations. Nothing is
    * quadratic in rows; iterations cap at `maxIter` (convergence on
    * exact center equality usually stops it well before).
    *
    * Returns the assignment frame: c_custkey + raw RFM + scaled f0..f2 +
    * `cluster`. */
  private[graft] def kmeansFit(features: DataFrame, k: Int = 5,
      seed: Long = 42, maxIter: Int = 30): DataFrame = {
    // fail-loud precondition (EmptyInputSpec whitelist): clustering an
    // empty feature frame is undefined — surface a clear error instead
    // of an internal "empty collection" failure
    require(!features.isEmpty, "kmeans: no feature rows to cluster")
    val dims = RfmCols.length
    // exact standardization stats (decimal sums fold to driver scalars)
    val statAggs = RfmCols.flatMap { c =>
      val d = col(c).cast("decimal(15,4)")
      Seq(sum(d).as(s"s_$c"), sum(d * d).as(s"q_$c"))
    }
    val st = features.agg(count(lit(1)).as("n"), statAggs: _*).head()
    val n = st.getLong(0)
    def bd(x: java.math.BigDecimal) = BigDecimal(x)
    val meanStd = RfmCols.indices.map { i =>
      val s = bd(st.getDecimal(1 + 2 * i))
      val q = bd(st.getDecimal(2 + 2 * i))
      val mean = (s / n).toDouble
      // unbiased sample variance, the StandardScaler convention
      val variance =
        if (n < 2) 0.0 else ((q - s * s / n) / (n - 1)).toDouble
      val std = math.sqrt(math.max(variance, 0.0))
      (mean, if (std > 0) std else 1.0) // constant column: center only
    }
    val scaled = RfmCols.zipWithIndex.map { case (c, i) =>
      ((col(c) - lit(meanStd(i)._1)) / lit(meanStd(i)._2)).as(s"f$i")
    }
    val fs = RfmCols.indices.map(i => col(s"f$i"))
    val base = features.select(
      (col("c_custkey") +: RfmCols.map(col)) ++ scaled: _*).cache()

    def nearest(centers: Array[Array[Double]]): Column = {
      val cand = centers.toSeq.zipWithIndex.map { case (cen, j) =>
        struct(
          fs.indices.map(i => (fs(i) - lit(cen(i))) * (fs(i) - lit(cen(i))))
            .reduce(_ + _).as("d"),
          lit(j).as("idx"))
      }
      element_at(array_sort(array(cand: _*)), 1)("idx")
    }

    // init: k hash-smallest distinct scaled points (ties by the tuple)
    var centers: Array[Array[Double]] = base.select(fs: _*).distinct()
      .orderBy(xxhash64(lit(seed) +: fs: _*) +: fs: _*)
      .limit(k).collect()
      .map(r => Array.tabulate(dims)(r.getDouble))
    val sumAggs = fs.zipWithIndex.map { case (f, i) =>
      sum(f.cast("decimal(38,18)")).as(s"s$i") }
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      val stats = base.withColumn("cluster", nearest(centers))
        .groupBy("cluster").agg(count(lit(1)).as("cn"), sumAggs: _*)
        .collect()
        .map(r => r.getInt(0) -> r).toMap
      val next = centers.zipWithIndex.map { case (old, j) =>
        stats.get(j).fold(old) { r =>
          val cn = java.math.BigDecimal.valueOf(r.getLong(1))
          Array.tabulate(dims)(i => r.getDecimal(2 + i)
            .divide(cn, 18, java.math.RoundingMode.HALF_EVEN).doubleValue())
        }
      }
      moved = !next.zip(centers).forall { case (a, b) => a.sameElements(b) }
      centers = next
      iter += 1
    }
    val out = base.withColumn("cluster", nearest(centers))
    base.unpersist(false) // the caller memo-caches the final frame
    out
  }

  /** [[kmeansFit]]'s published projection. */
  def segmentsOf(assigned: DataFrame): DataFrame =
    assigned
      .select(col("c_custkey"), col("freq_12m"), col("monetary_12m"),
        col("recency_days"), col("cluster").cast("long").as("cluster"))
      .orderBy("c_custkey")

  /** Cluster-quality metric the reference's advisor computes and publishes
    * next to its segmentation (reference scripts/train_advisor.py:123,321
    * picks k by silhouette): mean silhouette of the seed-pinned k=5
    * assignment over the SCALED feature space the model clustered in,
    * with squared-Euclidean distances via per-cluster sufficient
    * statistics — avg_{y∈C}‖x−y‖² = ‖x‖² − 2·x·μ_C + (Σ_{y∈C}‖y‖²)/|C| —
    * O(N·k), never the O(N²) pairwise definition, so the metric is
    * computable at the full customer dimension. a(i) uses the standard
    * exclude-self denominator (|C|−1; singleton clusters score 0); the
    * per-cluster sums and the final mean fold in decimal, so the value
    * is bit-deterministic across partition layouts like the fit itself.
    * One metrics row out. */
  def silhouetteOf(assigned: DataFrame): DataFrame = {
    val fs = RfmCols.indices.map(i => col(s"f$i"))
    val dims = RfmCols.length
    val stats = assigned.groupBy("cluster").agg(
      count(lit(1)).as("cn"),
      (fs.zipWithIndex.map { case (f, i) =>
        sum(f.cast("decimal(38,18)")).as(s"s$i") } :+
        sum(fs.map(f => f * f).reduce(_ + _).cast("decimal(38,18)")).as("q")): _*)
      .collect().map(r => r.getInt(0) -> r).toMap
    val k = stats.size
    val ids = stats.keys.toSeq.sorted
    val mu = ids.map { j => val r = stats(j)
      val cn = java.math.BigDecimal.valueOf(r.getLong(1))
      Array.tabulate(dims)(i => r.getDecimal(2 + i)
        .divide(cn, 18, java.math.RoundingMode.HALF_EVEN).doubleValue())
    }
    val qbar = ids.map { j => val r = stats(j)
      r.getDecimal(2 + dims).divide(java.math.BigDecimal.valueOf(r.getLong(1)),
        18, java.math.RoundingMode.HALF_EVEN).doubleValue()
    }
    val ns = ids.map(stats(_).getLong(1))
    val xx = fs.map(f => f * f).reduce(_ + _)
    // mean squared distance from the row to each cluster (clamped — the
    // sufficient-statistics form can go −ε on the row's own centroid)
    val mArr = array(ids.indices.map { j =>
      greatest(lit(0.0),
        xx - lit(2.0) * fs.indices.map(i => fs(i) * lit(mu(j)(i))).reduce(_ + _)
          + lit(qbar(j)))
    }: _*)
    val nArr = typedlit(ns)
    // remap the raw cluster label to its position in `ids` — an emptied
    // center leaves a hole in the label space, so labels are NOT dense
    val own = (array_position(typedlit(ids), col("cluster")) - 1).cast("int")
    val mOwn = element_at(mArr, own + 1)
    val nOwn = element_at(nArr, own + 1)
    val a = mOwn * nOwn.cast("double") / (nOwn - lit(1L)).cast("double")
    val b = array_min(transform(sequence(lit(0), lit(k - 1)), j =>
      when(j === own, lit(Double.MaxValue)).otherwise(element_at(mArr, j + 1))))
    val s = when(lit(k) === 1 || nOwn === 1L || (a === 0.0 && b === 0.0),
      lit(0.0)).otherwise((b - a) / greatest(a, b))
    val agg = assigned.select(s.cast("decimal(38,18)").as("sil"))
      .agg(sum("sil").as("t"), count(lit(1)).as("n")).head()
    val mean = agg.getDecimal(0).divide(
      java.math.BigDecimal.valueOf(agg.getLong(1)),
      18, java.math.RoundingMode.HALF_EVEN).doubleValue()
    assigned.sparkSession.range(1).select(
      lit(k.toLong).as("k"),
      lit(math.rint(mean * 1e6) / 1e6).as("silhouette"))
  }

  /** Incremental IVF index maintenance — the ANN twin of the persisted
    * shingle-index dedup: new vectors are assigned to the PERSISTED
    * coarse-quantizer centroids, with no KMeans refit and no scan of the
    * already-indexed corpus. This is how a 100 TB vector store actually
    * ingests: the quantizer retrains on a schedule, deltas stream into
    * cells between retrains. Centroids are nlist×dim (tiny by
    * construction), so they fold to a driver literal and assignment is
    * one map-side argmin pass over the delta — zero shuffles before the
    * output sort. Ties (equal squared-L2) break to the lower cell index
    * via the (dist, idx) struct sort, so assignment is deterministic
    * given the persisted index. */
  def ivfAssignDelta(delta: DataFrame, centroids: DataFrame): DataFrame = {
    val cents = centroids.select("cell", "centroid").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1)
    val centArr = typedlit(cents.map(_._2).toSeq)
    val cellIds = typedlit(cents.map(_._1).toSeq)
    val dists = transform(sequence(lit(0), lit(cents.length - 1)), ci =>
      struct(
        aggregate(zip_with(col("emb"), element_at(centArr, ci + 1),
          (x, c) => (x - c) * (x - c)), lit(0.0), (a, v) => a + v).as("d"),
        ci.as("idx")))
    delta.select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("best", element_at(array_sort(dists), 1))
      .select(col("vec_id"),
        element_at(cellIds, col("best.idx") + 1).as("cell"),
        round(col("best.d"), 6).as("dist2"))
      .orderBy("vec_id")
  }

  /** Train the IVF coarse quantizer for [[ivfAssignDelta]]'s persisted
    * index: same KMeans configuration as knn_ivf (so the incremental
    * path maintains the index the batch query would build), returned as
    * a (cell, centroid) frame ready to persist. */
  def ivfCentroids(corpus: DataFrame, nlist: Int = 16,
      seed: Long = 42): DataFrame = {
    import org.apache.spark.ml.clustering.{KMeans => MlKMeans}
    import org.apache.spark.ml.functions.array_to_vector
    val e = corpus.select(
      array_to_vector(col("embedding").cast("array<double>")).as("fv"))
    // fail-loud precondition (EmptyInputSpec whitelist, via
    // knn_ivf_incremental): no corpus, no quantizer
    require(!e.isEmpty, "ivfCentroids: no embedding rows to index")
    val model = new MlKMeans().setK(nlist).setSeed(seed)
      .setFeaturesCol("fv").setPredictionCol("cell").fit(e)
    val rows = model.clusterCenters.toSeq.zipWithIndex
      .map { case (c, i) => (i, c.toArray.toSeq) }
    import corpus.sparkSession.implicits._
    rows.toDF("cell", "centroid")
  }

  /** Smoothed target encoding of a categorical feature — the standard
    * ML-prep replacement for one-hot on high-cardinality categories:
    * each category encodes as a shrunk mean of the target,
    * enc = (Σ_target + m·μ) / (n + m), pulled toward the global mean μ
    * by pseudo-count m so rare categories don't memorize noise. Means
    * come from EXACT integer-cent sums (the suite's money discipline —
    * float partial sums are partition-order nondeterministic), with the
    * float division applied once per category at the end; both engines
    * evaluate the same expression shape, so the encoding is
    * oracle-hashable to 6 dp.
    *
    * Scale shape: ONE category-grain aggregate over the fact (map-side
    * combine); the global mean folds from that same frame (1-row cross,
    * the suite's scalar pattern), so the fact is scanned once and
    * nothing after the aggregate exceeds |categories| rows. */
  def targetEncode(fact: DataFrame, m: Double = 20.0): DataFrame = {
    val perCat = fact.groupBy("pays").agg(
      sum(Tables.cents(col("o_totalprice"))).as("s_cents"),
      count(lit(1)).as("n"))
    val globalRow = perCat.agg(sum("s_cents"), sum("n")).head()
    // empty fact → NULL global sums; μ=0 feeds a frame with no category
    // rows, so the encoding output is empty (never a getLong NPE)
    val mu = if (globalRow.isNullAt(0)) 0.0
      else globalRow.getLong(0) / 100.0 / globalRow.getLong(1)
    perCat.select(col("pays"), col("n"),
        round((col("s_cents") / 100.0 + lit(m * mu)) / (col("n") + lit(m)), 6)
          .as("enc"))
      .orderBy("pays")
  }
}
