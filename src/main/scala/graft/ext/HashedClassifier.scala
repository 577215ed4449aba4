package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Partitioning

/** FastText-style supervised text classifier (Joulin et al., "Bag of
  * Tricks for Efficient Text Classification", 2016) — the architecture
  * behind the quality/language filters in the CCNet and GPT-3 data
  * pipelines: hash word n-grams into a fixed feature space, mean-pool,
  * and train a linear logistic model on top.
  *
  * Spark-first formulation:
  *   - **Featurize** is a scan-stage projection — tokenize (plus
  *     optional fasttext-style word bigrams), murmur-hash each gram
  *     into `dim` buckets (`hash() pmod dim`, codegen'd). No shuffle,
  *     no UDF.
  *   - **Score** ships the weight vector as ONE typed literal VALUE
  *     (the [[CentroidAssign]] value-literal rule — a `dim`-double
  *     array as generated-source constants would make every training
  *     round recompile the stage) and mean-pools with a single
  *     `aggregate` over the hashed-gram array: score = b + Σ w[f] / n.
  *     Mean-pooling makes the model length-invariant and puts
  *     *relative token frequency* rules inside the hypothesis class.
  *   - **Training** is deterministic full-batch gradient descent
  *     with per-feature AdaGrad steps (Duchi et al. 2011 — the
  *     standard scale fix for sparse linear models: mean-pooling
  *     makes raw gradients O(1/(n̄·N)) per feature, so a global step
  *     size either diverges on the bias or never moves the gram
  *     weights; dividing by √Σg² equalizes them). Per round one scan
  *     of the (cached) featurized frame computes the per-doc residual
  *     r = σ(score) − label, then `explode(grams) → groupBy(feature)
  *     → sum(r/n)` reduces to at most `dim+1` gradient rows — a bounded
  *     driver aggregate by construction (the house `.collect()`
  *     rule). Driver state is two `dim+1`-double arrays (weights +
  *     AdaGrad accumulator). No per-row driver loop, no parameter
  *     server: gradients flow through an ordinary two-level hash
  *     aggregation, so a 1000-executor cluster trains exactly like
  *     local[32].
  *
  * 100 TB shape: scoring/filtering the full corpus is a pure
  * scan-stage projection (the production path). Training cost is
  * `iters` scans of the *training* frame — like
  * [[ProductQuantization.train]], corpus-scale users train on a
  * bounded sample (the sample-training contract: the model quality
  * depends on sample size, not corpus size) and score everything.
  *
  * Determinism: zero-init weights, murmur3 hashing, fixed iteration
  * count, and index-addressed gradient application make two fits on
  * the same frame bit-identical (spec-pinned); nothing depends on the
  * order gradient rows arrive in.
  */
object HashedClassifier {

  /** Trained model: `w(dim)` slots of gram weights plus the bias in
    * the last slot.
    */
  case class TextModel(dim: Int, w: Array[Double],
      withBigrams: Boolean = false) {
    require(w.length == dim + 1, s"weights must be dim+1, got ${w.length}")
    def bias: Double = w(dim)
  }

  /** Hashed gram ids (murmur3 pmod dim) as array<int>; repeats kept —
    * mean-pooling weighs each occurrence. `withBigrams` mirrors
    * fasttext's `wordNgrams=2` (default off, as in fasttext: bigrams
    * help genuinely phrasal targets but on small corpora they are
    * mostly hapax features that soak up label noise). Short/empty
    * docs yield an empty array and score as pure bias.
    */
  def features(text: Column, dim: Int,
      withBigrams: Boolean = false): Column = {
    if (!withBigrams) {
      // native one-pass kernel (tokenize + murmur in a single loop,
      // WSCG-compatible); bit-equal to the HOF path below, spec-pinned
      import org.apache.spark.sql.graft.bridge
      bridge.column(graft.plans.HashedGramsExpr(bridge.expression(text), dim))
    } else featuresHof(text, dim, withBigrams = true)
  }

  /** HOF reference twin of [[features]] (CodegenFallback lambdas) —
    * the bigram path still runs through it, and the spec pins the
    * unigram path's bit-equality against it.
    */
  def featuresHof(text: Column, dim: Int,
      withBigrams: Boolean = false): Column = {
    val toks = Shingling.tokens(text)
    val grams = if (!withBigrams) toks else {
      // short-doc fallback of nGramsFromTokens would duplicate the
      // unigram stream for 1-token docs; drop it there instead
      concat(toks, when(size(toks) < 2, array().cast("array<string>"))
        .otherwise(Shingling.nGramsFromTokens(toks, 2)))
    }
    transform(grams, g => pmod(hash(g), lit(dim)))
  }

  /** Mean-pooled linear score b + Σ w[f]/n over a hashed-gram column;
    * the weight vector rides as one typed-literal value into the
    * native codegen kernel ([[graft.plans.HashedScoreExpr]] — one
    * primitive loop inside whole-stage codegen; the HOF twin
    * [[scoreHof]] is the bit-equality reference).
    */
  def score(feats: Column, model: TextModel): Column = {
    import org.apache.spark.sql.graft.bridge
    val wLit = typedLit(model.w.toIndexedSeq)
    lit(model.bias) + bridge.column(graft.plans.HashedScoreExpr(
      bridge.expression(feats), bridge.expression(wLit)))
  }

  /** Reference twin of [[score]] built from higher-order functions —
    * CodegenFallback (boxed lambda walk per gram), kept for the
    * spec's bit-equality pin against the native kernel.
    */
  def scoreHof(feats: Column, model: TextModel): Column = {
    val wLit = typedLit(model.w.toIndexedSeq)
    val total = aggregate(feats, lit(0.0),
      (acc, f) => acc + element_at(wLit, f + 1))
    lit(model.bias) +
      when(size(feats) > 0, total / size(feats)).otherwise(lit(0.0))
  }

  /** σ(score) as a column. */
  def probability(feats: Column, model: TextModel): Column =
    lit(1.0) / (lit(1.0) + exp(-score(feats, model)))

  /** Deterministic full-batch logistic GD. `labelCol` must be 0/1
    * (numeric). Returns the trained model; driver state and per-round
    * collect are both ≤ dim+1 by construction.
    */
  def fit(docs: DataFrame, textCol: String, labelCol: String,
      dim: Int = 1 << 15, iters: Int = 25, lr: Double = 0.5,
      l2: Double = 3e-3, withBigrams: Boolean = false): TextModel = {
    // NOT forCompute: training input is a bounded sample by contract
    // (see scaladoc), and the loop pays per-task scheduling overhead
    // `iters` times — upscaling a tiny cached frame to cluster-wide
    // partitioning multiplied wall time ~4× for zero parallelism gain.
    // A sample big enough to need more partitions arrives with them.
    // Null-label / null-text rows are dropped up front: they carry no
    // gradient, so counting them in n would silently dilute the
    // effective learning rate (every real gradient divides by n).
    val featurized = docs
      .filter(col(labelCol).isNotNull && col(textCol).isNotNull)
      .select(col(labelCol).cast("double").as("y"),
        features(col(textCol), dim, withBigrams).as("f"))
      .cache()
    try {
      val n = featurized.count().toDouble
      require(n > 0, "cannot fit on an empty frame")
      // feature-presence census, ONCE (round-invariant: the featurized
      // frame is fixed): only features that occur in the frame ever
      // receive a gradient/L2 step — exactly the slots the old
      // groupBy(feature) form emitted rows for. One tiny distinct job
      // instead of re-deriving presence per round.
      val present: Array[Int] = featurized
        .select(explode(col("f")).as("feat")).distinct()
        .collect().map(_.getInt(0)).sorted
      val spark0 = featurized.sparkSession
      import spark0.implicits._
      val w = new Array[Double](dim + 1)
      val accum = new Array[Double](dim + 1) // AdaGrad Σg² per slot
      def step(slot: Int, grad: Double): Unit = {
        accum(slot) += grad * grad
        w(slot) -= lr * grad / math.sqrt(accum(slot) + 1e-10)
      }
      for (_ <- 0 until iters) {
        val model = TextModel(dim, w.clone(), withBigrams)
        // residual r = σ(s) − y; gram slot f accumulates r/|grams|, the
        // bias slot `dim` accumulates r. One dense dim+1-slot double
        // array per PARTITION (primitive loop, no explode rows), merged
        // driver-side in partition-index order — replaces the previous
        // explode(Σ|grams| rows) → groupBy(feature) → dim+1-row collect:
        // same sums with one mapper-only job (no exchange at all; guide
        // §2.3 "aggregate before you shuffle" taken to its limit).
        // Driver state stays O(dim) REGARDLESS of partition count
        // (r17 verdict): up to 512 partitions the per-partition
        // partials collect and merge in partition-index order (the
        // bench path, bit-stable); above it they treeReduce (depth 2)
        // so the driver receives ONE dim+1 array instead of
        // partitions × (dim+1) — ~26 GB at dim 2¹⁵ and 10⁵ tasks
        // under the old collect. Gradient values are identical up to
        // double-summation order, which the groupBy form never pinned
        // either (its partial-merge order was partition-dependent);
        // two fits on the same frame remain bit-identical
        // (HashedClassifierSpec's determinism pin).
        val perPartition = featurized
          .select(col("f"), (probability(col("f"), model) - col("y")).as("r"))
          .as[(Array[Int], Double)]
          .mapPartitions { it =>
            val acc = new Array[Double](dim + 1)
            it.foreach { case (f, r) =>
              if (f != null && f.length > 0) {
                val inv = r / f.length
                var i = 0
                while (i < f.length) { acc(f(i)) += inv; i += 1 }
              }
              acc(dim) += r // bias sentinel: every row carries r
            }
            Iterator.single(acc)
          }
        def mergeInto(a: Array[Double], b: Array[Double]): Array[Double] = {
          var i = 0
          while (i <= dim) { a(i) += b(i); i += 1 }
          a
        }
        // one physical plan for the probe and the collect (see
        // CentroidAssign.cellMeans)
        val rdd = perPartition.rdd
        val g: Array[Double] =
          if (rdd.getNumPartitions <= 512) {
            val acc = new Array[Double](dim + 1)
            rdd.collect().foreach(p => mergeInto(acc, p))
            acc
          } else rdd.treeReduce(mergeInto _, depth = 2)
        present.foreach(f => step(f, g(f) / n + l2 * w(f)))
        step(dim, g(dim) / n)
      }
      TextModel(dim, w, withBigrams)
    } finally featurized.unpersist()
  }

  /** Score a corpus: adds `prob` and `pred` (0/1) columns — the
    * production filter path, a pure scan-stage projection.
    */
  def predict(docs: DataFrame, textCol: String, model: TextModel): DataFrame = {
    val f = features(col(textCol), model.dim, model.withBigrams)
    docs.withColumn("prob", probability(f, model))
      .withColumn("pred", (col("prob") >= 0.5).cast("int"))
  }

  /** Held-out AUC by the Mann–Whitney rank-sum identity:
    * AUC = (Σ ranks⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻). Ranking is the
    * production contract for a quality filter — CCNet-style pipelines
    * keep the top fraction BY SCORE with a corpus-tuned threshold, so
    * the gate metric is "does the scorer order docs by the latent
    * rule", not 0.5-threshold accuracy (threshold calibration on a
    * small-margin rule needs unbounded weight norm — an optimizer
    * asymptote, not a model property). Ranks come from the house
    * two-phase global row number ([[Ids.globalRowNumber]] — range
    * partition + per-partition offsets, no single-partition window);
    * `tieCols` must make the order total so the value is
    * deterministic (exact prob ties are broken arbitrarily-but-
    * reproducibly, fine for continuous scores).
    */
  def auc(scored: DataFrame, labelCol: String, probCol: String,
      tieCols: Seq[String]): Double = {
    val keep = Seq(col(labelCol).cast("double").as("y"), col(probCol)) ++
      tieCols.map(col)
    // null-label rows are excluded BEFORE ranking — a row that counts
    // in neither class must not consume a rank either, or the
    // rank-sum identity silently skews toward whichever class sorts
    // above the unlabeled rows
    val ranked = Ids.globalRowNumber(
      scored.filter(col(labelCol).isNotNull).select(keep: _*),
      orderCols = probCol +: tieCols, outCol = "rank")
    val agg = ranked.agg(
      sum(when(col("y") === 1.0, col("rank"))).as("pos_ranks"),
      sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("n_pos"),
      sum(when(col("y") =!= 1.0, 1L).otherwise(0L)).as("n_neg"))
      .collect()(0)
    val (posRanks, nPos, nNeg) =
      (agg.getLong(0), agg.getLong(1), agg.getLong(2))
    require(nPos > 0 && nNeg > 0, "AUC needs both classes present")
    (posRanks - nPos * (nPos + 1) / 2).toDouble / (nPos.toDouble * nNeg)
  }
}
