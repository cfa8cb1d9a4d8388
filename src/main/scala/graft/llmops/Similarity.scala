package graft.llmops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity search (SURVEY §2.B.12): brute-force cosine as
  * the exact baseline, and a random-hyperplane LSH bucketing as the
  * approximate scale path (an IVF-style partitioner: candidate pairs
  * only within a bucket).
  *
  * All arithmetic is double-precision with a fixed left-to-right
  * fold, so the DuckDB oracle (list_dot_product over DOUBLE[]) matches
  * bit-for-bit.
  *
  * Scale: brute-force top-k is O(Q·N) with a broadcast of the Q query
  * vectors — right when Q is small; the LSH path shuffles once on
  * bucket id, making candidate generation output-linear. A custom
  * codegen'd Expression for the dot product is the next optimization
  * (SURVEY §7 candidates); `aggregate(zip_with(…))` already stays inside
  * whole-stage codegen.
  */
object Similarity {

  /** Dot product of two array<double> columns: strict left-to-right
    * IEEE accumulation via the codegen'd [[graft.plans.DotProduct]]
    * kernel (bit-identical to the HOF fold
    * `aggregate(zip_with(a,b,(x,y)=>x*y), 0.0, _+_)` it replaces, but
    * stays inside whole-stage codegen). */
  def dot(a: Column, b: Column): Column = graft.plans.DotProduct.dot(a, b)

  /** The interpreted HOF formulation, kept for cross-checking the
    * native kernel in tests. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Vector HYGIENE report — the admission check an embedding corpus
    * needs BEFORE any ANN structure sees it: per vector its dimension
    * (a mixed-dim corpus breaks every kernel downstream), L2 norm,
    * and the two poisons — zero vectors (cosine undefined; they land
    * in every top-k at similarity 0/0) and NaN/Inf components (one
    * NaN poisons a whole IVF cell mean). Map-only single pass (the
    * squared norm comes from the compiled [[dot]] kernel; NaN ≠
    * itself, Inf detected via the norm), no shuffle — the 100 TB
    * shape is exactly this per-row pass. Returns
    * (id, dim, norm 6dp, is_zero, is_bad). */
  def vectorHygiene(vecs: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val n2 = dot(v, v)
    vecs.select(col(idCol), size(col(vecCol)).as("dim"),
      round(sqrt(n2), 6).as("norm"),
      (n2 === 0.0).as("is_zero"),
      (isnan(n2) || n2 === Double.PositiveInfinity).as("is_bad"))
  }

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k neighbors for a small set of query ids (broadcast the
    * queries; scan the corpus once). Norms are hoisted to one per ROW
    * (`nv`/`qn`) instead of one per PAIR — same IEEE values (the
    * division tree is unchanged: dot/(qn·nv)), but the O(Q·N·dim)
    * redundant norm arithmetic disappears, which is what matters when
    * N is the 100 TB corpus. */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], k: Int): DataFrame = {
    val v = emb.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nv", norm(col("v")))
    val q = v.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("qid"), col("v").as("qv"), col("nv").as("qn"))
    val scored = v.join(broadcast(q), col(idCol) =!= col("qid"))
      .select(col("qid"), col(idCol).as("nn"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nv"))).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("nn").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** kNN majority-vote classification — the evaluation face of the
    * similarity family (and the standard label-propagation /
    * nearest-class baseline over an embedding corpus): each query
    * vector takes the majority label of its `k` exact-cosine nearest
    * neighbors; vote ties break to the smallest label, neighbor-rank
    * ties to the smallest id (the [[bruteForceTopK]] order). Same
    * scale posture as the brute-force baseline it scores against:
    * queries broadcast, ONE corpus scan, per-query windows — swap the
    * neighbor stage for the IVF/LSH path when the query set grows.
    * Returns (qid, pred, votes). */
  def knnClassify(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String, queryIds: Seq[Long], k: Int): DataFrame = {
    val v = emb.select(col(idCol), col(vecCol).cast("array<double>").as("v"),
        col(labelCol).as("lbl"))
      .withColumn("nv", norm(col("v")))
    val q = v.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("qid"), col("v").as("qv"), col("nv").as("qn"))
    val scored = v.join(broadcast(q), col(idCol) =!= col("qid"))
      .select(col("qid"), col(idCol).as("nn"), col("lbl"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nv"))).as("cos"))
    val wN = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("nn").asc)
    val wV = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("votes").desc, col("lbl").asc)
    scored.withColumn("rank", row_number().over(wN)).filter(col("rank") <= k)
      .groupBy(col("qid"), col("lbl")).agg(count(lit(1)).as("votes"))
      .withColumn("__vr", row_number().over(wV))
      .filter(col("__vr") === 1)
      .select(col("qid"), col("lbl").as("pred"), col("votes"))
  }

  /** Hard-negative mining — the contrastive-training data op: for each
    * query vector, the `k` MOST similar vectors carrying a DIFFERENT
    * label (the negatives a metric-learning loss learns the most
    * from; easy random negatives saturate early). Same scale posture
    * as [[bruteForceTopK]]: queries broadcast, ONE corpus scan, the
    * label inequality folded into the scan-side filter (so the
    * per-query window ranks only cross-label rows — never the whole
    * corpus when labels are balanced); swap the candidate stage for
    * the IVF/LSH path when the query set grows. Ties: cos desc, id
    * asc. Returns (qid, qlbl, nn, lbl, cos 6dp, rank ≤ k). */
  def hardNegatives(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String, queryIds: Seq[Long], k: Int): DataFrame = {
    val v = emb.select(col(idCol), col(vecCol).cast("array<double>").as("v"),
        col(labelCol).as("lbl"))
      .withColumn("nv", norm(col("v")))
    val q = v.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("qid"), col("lbl").as("qlbl"),
        col("v").as("qv"), col("nv").as("qn"))
    val scored = v.join(broadcast(q), col("lbl") =!= col("qlbl"))
      .select(col("qid"), col("qlbl"), col(idCol).as("nn"), col("lbl"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nv"))).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("nn").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("qid"), col("qlbl"), col("nn"), col("lbl"),
        round(col("cos"), 6).as("cos"), col("rank"))
  }

  /** Symmetric int8 quantization of an embedding column: per-vector
    * codes = round(x·127 / max|x|) ∈ [-127, 127], stored as
    * `array<tinyint>` — 4× smaller than float32 (8× than the double
    * lattice), the standard memory/IO lever for a 100 TB embedding
    * corpus. All-zero vectors quantize to all-zero codes. The
    * arithmetic is pure integer after the one rounded divide, so an
    * SQL oracle recomputes the codes exactly. */
  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    // the max|x| reduction is hoisted to ONE column per row: inlining
    // it inside the transform lambda re-evaluated the O(dim) fold per
    // ELEMENT (O(dim²)/row — measured 13× slower on the ×100 probe)
    val v = col(vecCol).cast("array<double>")
    emb.select(col(idCol), v.as("__v"))
      .withColumn("__ma", aggregate(col("__v"), lit(0.0), (a, x) => greatest(a, abs(x))))
      .select(col(idCol),
        when(col("__ma") === 0d,
          transform(col("__v"), _ => lit(0).cast("tinyint")))
          .otherwise(transform(col("__v"), x => round(x * 127 / col("__ma"), 0).cast("tinyint")))
          .as("codes"))
  }

  /** Product-quantization top-k — the sub-byte compression rung below
    * int8 ([[quantizedTopK]]): the vector splits into `m` subspaces,
    * each encoded as the index of its L2-nearest codeword from a
    * per-subspace codebook, so a 64-dim double vector stores as `m`
    * small codes (here 4 × 4 bits of information — a 128× reduction).
    * The codebook follows the IVF sampling doctrine
    * (deterministic: the `nCodes` smallest-id vectors, collected —
    * config-sized by construction, broadcast as literals). Scoring is
    * asymmetric: the query stays exact, the corpus side is its
    * RECONSTRUCTION (concatenated codewords) — one map-only encode
    * pass + one corpus scan, queries broadcast, never an all-pairs
    * join. Distances use the expansion `|s|² − 2·s·c + |c|²` and
    * first-minimum-wins argmin (tie → smallest code), so a SQL oracle
    * reproduces codes, reconstructions, and cosines bit-for-bit. */
  def pqTopK(emb: DataFrame, idCol: String, vecCol: String, m: Int, nCodes: Int,
      queryIds: Seq[Long], k: Int): DataFrame = {
    val v0 = emb.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
    val cbRows = v0.filter(col(idCol) < nCodes).orderBy(col(idCol))
      .select(col("v")).collect().map(_.getSeq[Double](0).toArray)
    require(cbRows.length == nCodes, s"expected $nCodes codebook vectors")
    val dim = cbRows.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    val cbSub: IndexedSeq[IndexedSeq[Array[Double]]] = (0 until m).map(mi =>
      cbRows.toIndexedSeq.map(_.slice(mi * dsub, (mi + 1) * dsub)))
    pqTopKWith(emb, idCol, vecCol, cbSub, queryIds, k)
  }

  /** Two-stage PQ retrieval — the SERVING shape of product
    * quantization: the compressed codes only SHORTLIST (top
    * k·`overfetch` by reconstruction cosine), then the shortlist is
    * re-ranked with EXACT cosine against the uncompressed vectors.
    * Pure PQ ranking at ~16 bits/vector is a coarse signal (recall
    * measured in BASELINE.md #32); the re-rank recovers ranking quality
    * while touching only queries × k × overfetch exact vectors — the
    * shortlist broadcasts onto ONE corpus scan, so the exact stage
    * costs a hash probe per corpus row, never a second full scoring
    * pass. Returns (qid, nn, rank ≤ k, cos) with exact cosines. */
  def pqRerankTopK(emb: DataFrame, idCol: String, vecCol: String, m: Int,
      nCodes: Int, queryIds: Seq[Long], k: Int, overfetch: Int = 8): DataFrame = {
    require(overfetch > 0, "overfetch must be positive")
    val shortlist = pqTopK(emb, idCol, vecCol, m, nCodes, queryIds, k * overfetch)
      .select(col("qid"), col("nn"))
    val v = emb.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nv", norm(col("v")))
    val q = v.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("qid"), col("v").as("qv"), col("nv").as("qn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("nn").asc)
    v.select(col(idCol).as("nn"), col("v"), col("nv"))
      .join(broadcast(shortlist), Seq("nn"))
      .join(broadcast(q), Seq("qid"))
      .withColumn("cos", dot(col("qv"), col("v")) / (col("qn") * col("nv")))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("qid"), col("nn"), col("rank"), col("cos"))
  }

  /** PQ search against CALLER-SUPPLIED per-subspace codebooks — the
    * encode/reconstruct/re-rank pipeline of [[pqTopK]] with the
    * quantizer decoupled (the [[ivfTopKWith]] doctrine), so
    * [[trainPqCodebooks]]'s refined codewords (or a production table
    * trained offline) plug in unchanged. `codebooks(mi)(code)` is the
    * codeword for subspace `mi`; all subspaces share one width. */
  def pqTopKWith(emb: DataFrame, idCol: String, vecCol: String,
      codebooks: IndexedSeq[IndexedSeq[Array[Double]]],
      queryIds: Seq[Long], k: Int): DataFrame = {
    val v0 = emb.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
    val dsub = codebooks.head.head.length
    require(codebooks.forall(_.forall(_.length == dsub)), "ragged codebook")
    // compiled encode (first-minimum tie rule) + literal-codeword recon
    val rv = v0.withColumn("codes", pqCodes(col("v"), codebooks))
      .withColumn("rv", pqReconstruct(col("codes"), codebooks))
      .withColumn("rn", norm(col("rv")))
    val q = v0.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("qid"), col("v").as("qv"))
      .withColumn("qn", norm(col("qv")))
    val scored = rv.join(broadcast(q), col(idCol) =!= col("qid"))
      .select(col("qid"), col(idCol).as("nn"),
        (dot(col("qv"), col("rv")) / (col("qn") * col("rn"))).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("nn").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Exact top-k over the QUANTIZED corpus — the memory-bounded
    * variant of [[bruteForceTopK]]: integer dot products (64 dims ×
    * 127² fits int comfortably), norms hoisted per row, queries
    * broadcast. Ranking approximates the float cosine to ~1e-2 — the
    * candidate-generation trade every int8 serving stack makes. */
  def quantizedTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], k: Int): DataFrame = {
    // codegen'd exact-integer kernel (ByteDotProduct); the HOF twin
    // `aggregate(zip_with(a,b,(x,y)=>int(x)*int(y)), 0, _+_)` is kept
    // in the spec cross-check
    def idot(a: Column, b: Column): Column = graft.plans.ByteDotProduct.dot(a, b)
    val qz = quantizeInt8(emb, idCol, vecCol)
      .select(col(idCol), col("codes"), idot(col("codes"), col("codes")).as("n2"))
    val q = qz.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("qid"), col("codes").as("qc"), col("n2").as("qn2"))
    val scored = qz.join(broadcast(q), col(idCol) =!= col("qid"))
      .select(col("qid"), col(idCol).as("nn"),
        (idot(col("qc"), col("codes")).cast("double")
          / (sqrt(col("qn2").cast("double")) * sqrt(col("n2").cast("double")))).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("nn").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Deterministic ±1 hyperplane component for plane i, dimension j —
    * md5-mixed (a linear formula like (a·i+b·j) mod 2 degenerates to a
    * single hyperplane up to sign) and embedded as a literal in both the
    * Spark plan and the SQL oracle. */
  def planeSign(i: Int, j: Int): Int = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"plane_${i}_$j".getBytes("UTF-8"))
    if ((h(0) & 1) == 0) 1 else -1
  }

  /** Random-hyperplane LSH bucket id over `numPlanes` fixed ±1 planes:
    * bit i = [dot(v, plane_{offset+i}) > 0]. `planeOffset` lets callers
    * draw INDEPENDENT hash tables from the same plane family (table t
    * uses planes t·k … t·k+k−1), which is how the multi-table near-dup
    * path gets its recall without changing this function's single-table
    * callers (offset 0 = the original planes). */
  def lshBucket(vec: Column, dim: Int, numPlanes: Int,
      planeOffset: Int = 0): Column =
    (0 until numPlanes).map { i =>
      val plane = array((0 until dim).map(j =>
        lit(planeSign(planeOffset + i, j).toDouble)): _*)
      when(dot(vec, plane) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Left-to-right IEEE norm of a driver-held vector — the same op
    * sequence as `norm` (the codegen'd kernel's strict fold), so a
    * literal centroid norm is bit-identical to computing it row-side. */
  private def normOf(v: Seq[Double]): Double = {
    var acc = 0.0
    v.foreach(x => acc += x * x)
    math.sqrt(acc)
  }

  /** IVF coarse-quantizer cell id: the argmax-cosine centroid, ties to
    * the smallest centroid id. ONE projection over broadcast-literal
    * centroids — the assignment pass is map-only (no shuffle, no join),
    * which is the property that matters when assigning 100 TB of
    * vectors. `nv` is the precomputed row norm: inlining `norm(vec)`
    * here would re-evaluate the O(dim) dot per centroid (16× per row —
    * measured ~40% of the assignment pass), and centroid norms fold to
    * literals; the cosine VALUES are unchanged (same IEEE op sequence). */
  def ivfCell(vec: Column, nv: Column, centroids: Seq[(Long, Seq[Double])]): Column =
    -array_max(array(centroids.map { case (cid, cv) =>
      struct((dot(vec, typedlit(cv)) / (nv * lit(normOf(cv)))).as("c"),
        lit(-cid).as("negid"))
    }: _*)).getField("negid")

  /** The query-side probe list: the `nProbe` best cells by the same
    * score, descending cosine with ascending-centroid tie-break.
    * (Query-side only — Q rows — so the norm hoist matters less, but
    * the same literal-norm form keeps both sides' trees congruent.) */
  def ivfProbes(vec: Column, centroids: Seq[(Long, Seq[Double])], nProbe: Int): Column =
    transform(
      slice(reverse(array_sort(array(centroids.map { case (cid, cv) =>
        struct((dot(vec, typedlit(cv)) / (norm(vec) * lit(normOf(cv)))).as("c"),
          lit(-cid).as("negid"))
      }: _*))), 1, nProbe),
      x => -x("negid"))

  /** Deterministic fixed-iteration Lloyd (k-means) refinement for the
    * IVF coarse quantizer (VERDICT r7 missing #4) — replaces first-N
    * sampling with TRAINED centroids while keeping the bit-exact
    * oracle: a DuckDB CTE chain replays the SAME iterations and lands
    * on the SAME doubles.
    *
    * Why that is possible at all: float summation is order-sensitive,
    * and Spark's partial aggregation sums in partition order while
    * DuckDB sums in scan order — so a naive mean would drift in the
    * last ulps and every downstream assignment could flip. The fix is
    * to GRID-ROUND the training vectors first: x ↦ ⌊x·2²⁰⌋ / 2²⁰.
    * Grid values carry ≤ 20 fraction bits and the corpus values are
    * < 2¹, so any sum of ≤ 2²⁰ of them needs ≤ 41 significant bits —
    * every partial sum is exactly representable and addition NEVER
    * rounds, making the sum identical under ANY association order.
    * The mean is then one IEEE division (sum/count) — deterministic —
    * and the L2 assignment uses the expansion |v|² − 2·v·c + |c|²
    * whose strict left-to-right folds both engines share (the same
    * device that made PQ bit-exact). Ties go to the smallest centroid
    * id; a cluster that loses all members keeps its previous centroid.
    *
    * Scale shape per iteration: ONE map-only assignment over
    * broadcast-literal centroids + ONE (cell, pos) partial-aggregated
    * shuffle; the collected result is k×dim — config-sized, the same
    * doctrine as the centroid/codebook collects. `nTrain` bounds the
    * training sample (first-N-by-id — deterministic), exactly how a
    * production pipeline trains on a sample then assigns the corpus. */
  def trainKMeans(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      nTrain: Int, iters: Int = 2): Seq[(Long, Seq[Double])] = {
    val grid = 1048576.0 // 2^20
    // SPHERICAL k-means: vectors are unit-normalized before training,
    // so the L2 objective matches the COSINE geometry the IVF
    // assignment ranks by — L2-training raw vectors measurably LOSES
    // recall under cosine assignment (0.76 vs 0.87 sampled at sf0.1;
    // normalized training wins). Normalization is one deterministic
    // IEEE division per component (norm via the same strict fold both
    // engines share); the grid-round then restores order-invariant
    // exact sums. Unit components keep |x| ≤ 1, so the ≤53-bit
    // exactness bound holds a fortiori.
    val v = emb.filter(col(idCol) < nTrain)
      .select(col(idCol), {
        val raw = col(vecCol).cast("array<double>")
        val n = norm(raw)
        transform(raw, x =>
          floor(when(n === 0d, lit(0.0)).otherwise(x / n) * grid) / grid).as("v")
      })
    val init = v.filter(col(idCol) < k).orderBy(col(idCol))
      .select(col("v")).collect().map(_.getSeq[Double](0).toArray)
    require(init.length == k, s"expected $k seed centroids")
    val dim = init.head.length
    def sumSq(c: Array[Double]): Double = { // strict LTR — list_dot_product's fold
      var acc = 0.0; c.foreach(x => acc += x * x); acc
    }
    // argmin-L2 cell over literal centroids (first minimum = smallest
    // cid, the PQ codeCol tie rule); map-only, like ivfCell
    def cell(cents: IndexedSeq[Array[Double]]): Column = {
      val dists = array(cents.map { c =>
        val cl = typedlit(c.toSeq)
        dot(col("v"), col("v")) - lit(2.0) * dot(col("v"), cl) + lit(sumSq(c))
      }: _*)
      (array_position(dists, array_min(dists)) - 1).cast("long")
    }
    var cents: IndexedSeq[Array[Double]] = init.toIndexedSeq
    (1 to iters).foreach { _ =>
      val stats = v.withColumn("cell", cell(cents))
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .collect()
      val byCell = stats.groupBy(_.getLong(0)).map { case (cid, rows) =>
        cid -> rows.map(r => r.getInt(1) -> ((r.getDouble(2), r.getLong(3)))).toMap
      }
      cents = cents.indices.map { cid =>
        byCell.get(cid.toLong) match {
          case Some(m) => Array.tabulate(dim)(p => m(p)._1 / m(p)._2)
          case None => cents(cid) // empty cluster keeps its centroid
        }
      }
    }
    cents.indices.map(cid => cid.toLong -> cents(cid).toSeq)
  }

  /** Deterministic fixed-iteration Lloyd training for the PQ
    * per-subspace codebooks — completes VERDICT r7 missing #4's
    * "IVF/PQ" scope next to [[trainKMeans]]. Same determinism device:
    * training vectors are grid-rounded (⌊x·2²⁰⌋/2²⁰; corpus components
    * are < 2¹, so partial sums of ≤ 2²⁰ grid values never round and the
    * per-(subspace, code, pos) sums are order-invariant-EXACT), means
    * are one IEEE division, assignment is the L2 expansion with the
    * first-minimum tie rule — so a DuckDB CTE chain replaying the same
    * iterations lands on the same doubles. Unlike the IVF trainer this
    * one does NOT unit-normalize: PQ encodes RAW subvectors by L2
    * ([[pqTopK]]'s codeCol), so the training geometry must match the
    * encode geometry, not the cosine ranking.
    *
    * Scale shape per iteration: ONE map-only assignment over
    * broadcast-literal codewords (all `m` subspaces in the same
    * projection) + ONE (subspace, code, pos) partial-aggregated
    * shuffle; the collected stats are m×nCodes×dsub — config-sized,
    * the centroid-collect doctrine. `nTrain` bounds the training
    * sample (first-N-by-id), exactly how a production pipeline trains
    * on a sample then encodes the corpus. */
  def trainPqCodebooks(emb: DataFrame, idCol: String, vecCol: String, m: Int,
      nCodes: Int, nTrain: Int, iters: Int = 2): IndexedSeq[IndexedSeq[Array[Double]]] = {
    val grid = 1048576.0 // 2^20 — the trainKMeans grid
    val v = emb.filter(col(idCol) < nTrain)
      .select(col(idCol),
        transform(col(vecCol).cast("array<double>"),
          x => floor(x * grid) / grid).as("v"))
    val seedRows = v.filter(col(idCol) < nCodes).orderBy(col(idCol))
      .select(col("v")).collect().map(_.getSeq[Double](0).toArray)
    require(seedRows.length == nCodes, s"expected $nCodes seed vectors")
    val dim = seedRows.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    var books: IndexedSeq[IndexedSeq[Array[Double]]] =
      (0 until m).map(mi => seedRows.toIndexedSeq.map(_.slice(mi * dsub, (mi + 1) * dsub)))
    (1 to iters).foreach { _ =>
      // one row contributes m (subspace, code, subvector) triples — all
      // subspaces train in the SAME assignment pass (the compiled
      // PqEncode kernel, one fused loop per row) and ONE shuffle
      val stats = v
        .withColumn("codes", pqCodes(col("v"), books))
        .select(col("v"), posexplode(col("codes")).as(Seq("mi", "code")))
        .select(col("mi"), col("code"),
          posexplode(slice(col("v"), col("mi") * lit(dsub) + lit(1), lit(dsub)))
            .as(Seq("pos", "x")))
        .groupBy(col("mi"), col("code"), col("pos"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .collect()
      val byKey = stats.groupBy(r => (r.getInt(0), r.getInt(1))).map { case (key, rows) =>
        key -> rows.map(r => r.getInt(2) -> ((r.getDouble(3), r.getLong(4)))).toMap
      }
      books = books.indices.map { mi =>
        books(mi).indices.map { code =>
          byKey.get((mi, code)) match {
            case Some(mp) => Array.tabulate(dsub)(p => mp(p)._1 / mp(p)._2)
            case None => books(mi)(code) // empty code keeps its codeword
          }
        }
      }
    }
    books
  }

  /** Hot-bucket guard for the ANN paths: the bucket/cell re-rank joins
    * are output-linear only while occupancy stays balanced — a
    * degenerate corpus (many near-identical embeddings hashing to one
    * bucket) would pay m²/2 cosine evaluations inside one partition,
    * the same failure class as unbounded stop-shingles in the jaccard
    * pipeline (fixed there by the df-cap). The guard bounds each
    * bucket's CANDIDATE contribution to the `cap` smallest ids —
    * deterministic, mirrored verbatim in the DuckDB oracles — so the
    * worst case is |queries in bucket|·cap, never m². Recall on a hot
    * bucket degrades gracefully (top-`cap`-by-id is the declared
    * approximation, exactly like the df-cap drops stop-shingles).
    * The cap window partitions by the SAME key the re-rank join uses,
    * so Catalyst reuses one exchange — no extra shuffle. */
  val CandidateCap = 128

  /** Overfetch-aware effective per-cell cap for the IVF-PQ paths (r16,
    * VERDICT r15 order #3): the measured MoG ladder showed the BY-ID
    * cap, not the codes, binding the capped paths (capped residual
    * 0.095 vs capped-EXACT-IVF 0.145 — even perfect scoring can't
    * recover candidates the cap already dropped). A caller asking for
    * a deeper shortlist (higher `overfetch`) is declaring willingness
    * to scan more per cell, so the guard admits capPerCell × overfetch
    * rows — still config-bounded (the hot-cell worst case scales by
    * the same factor the caller chose), still deterministic by-id,
    * still mirrored verbatim in the DuckDB twins. Int.MaxValue
    * (uncapped) passes through untouched. */
  def effectiveCap(capPerCell: Int, overfetch: Int): Int =
    if (capPerCell == Int.MaxValue) Int.MaxValue
    else math.min(Int.MaxValue.toLong, capPerCell.toLong * overfetch).toInt

  private def capPerKey(df: DataFrame, key: String, ord: String, cap: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key)).orderBy(col(ord).asc)
    df.withColumn("__crn", row_number().over(w)).filter(col("__crn") <= cap).drop("__crn")
  }

  /** IVF (inverted-file) ANN — the second approximate scale path next
    * to [[annTopK]]'s hyperplane LSH. Centroids are the first
    * `nCentroids` vectors by id: deterministic sampling stands in for
    * k-means refinement (whose float iteration would break the
    * bit-exact oracle); at production scale the centroid table would be
    * trained offline and passed in the same way. Pipeline: map-only
    * cell assignment ([[ivfCell]]), per-query probe of the `nProbe`
    * nearest cells, exact cosine re-rank restricted to probed cells.
    * Shuffles: ONE, partitioning candidates by qid for the top-k window
    * — candidate volume is output-linear in cell occupancy, never
    * O(Q·N). */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String, nCentroids: Int,
      nProbe: Int, queryIds: Seq[Long], k: Int,
      capPerCell: Int = CandidateCap): DataFrame = {
    val v = emb.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
    // centroid table: config-sized (nCentroids × dim doubles), like the
    // landmark list of shortestPathsTo — driver-held by design
    val centroids = v.filter(col(idCol) < nCentroids).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
    ivfTopKWith(emb, idCol, vecCol, centroids, nProbe, queryIds, k, capPerCell)
  }

  /** IVF search against a CALLER-SUPPLIED centroid table — the
    * assignment/probe/re-rank pipeline of [[ivfTopK]] with the coarse
    * quantizer decoupled, so [[trainKMeans]]'s refined centroids (or a
    * production table trained offline) plug in unchanged. */
  def ivfTopKWith(emb: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Long, Seq[Double])], nProbe: Int, queryIds: Seq[Long],
      k: Int, capPerCell: Int = CandidateCap): DataFrame = {
    val v = emb.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nv", norm(col("v")))
    val assigned = capPerKey(
      v.withColumn("cell", ivfCell(col("v"), col("nv"), centroids)),
      "cell", idCol, capPerCell)
    val probed = v.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("qid"), col("v").as("qv"), col("nv").as("qn"))
      .select(col("qid"), col("qv"), col("qn"),
        explode(ivfProbes(col("qv"), centroids, nProbe)).as("cell"))
    val cand = assigned.join(broadcast(probed), Seq("cell"))
      .filter(col(idCol) =!= col("qid"))
      .select(col("qid"), col(idCol).as("nn"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nv"))).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("nn").asc)
    cand.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** PERSISTED IVF index — the cold-serving face of the IVF family
    * (the [[graft.llmops.Dedup.residentSpanIndex]] doctrine applied to
    * ANN): train the coarse quantizer once, assign the corpus once,
    * and PUBLISH the result as parquet laid out for probe-time
    * PARTITION PRUNING — `cells/` is partitioned by the cell id, so a
    * query touching `nProbe` of `k` cells reads `nProbe/k` of the
    * corpus FROM DISK, not post-scan. That layout is the entire 100 TB
    * story: the in-memory routes prune after a full scan; this one
    * prunes at the file index. Centroids land beside the cells
    * (config-sized). Vectors store with their precomputed norms so
    * serving never recomputes them. */
  def buildIvfIndex(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, nTrain: Int, outDir: String,
      source: Option[String] = None): Seq[(Long, Seq[Double])] = {
    val cents = trainKMeans(emb, idCol, vecCol, k, nTrain)
    val spark = emb.sparkSession
    import spark.implicits._
    cents.map { case (cid, cv) => (cid, cv) }.toDF("cid", "cv")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/centroids")
    val v = emb.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nv", norm(col("v")))
    val assigned = v.withColumn("cell", ivfCell(col("v"), col("nv"), cents))
    assigned.write.mode("overwrite").partitionBy("cell").parquet(s"$outDir/cells")
    // slim qid→cell side table, id-range-laid (the IVF-PQ build's
    // shape — ADVICE r14 #4 applies to this route identically: a serve
    // call's query fetch must prune to the queries' cells, not scan
    // every partition of the index). Read (id, cell) BACK from the
    // just-written cells (narrow column pages + partition values) —
    // re-deriving them from `assigned` would re-run the whole corpus
    // scan + k-centroid assignment pass a second time (code-review
    // r15; the ivfCell scaladoc calls that pass the build's dominant
    // cost)
    emb.sparkSession.read.parquet(s"$outDir/cells")
      .select(col(idCol), col("cell").cast("long").as("cell"))
      .repartitionByRange(8, col(idCol)).sortWithinPartitions(col(idCol))
      .write.mode("overwrite").parquet(s"$outDir/ids")
    // unified freshness (load.IndexKeys, r13 order #9): record which
    // source generation this layout answers for — the stale probe
    // (requireFresh) refuses after the source moves on
    source.foreach(graft.load.IndexKeys.stamp(outDir, _))
    cents
  }

  /** Serve top-k from a [[buildIvfIndex]] layout: centroids load as a
    * config-sized collect, the probe set computes DRIVER-side (queries
    * are a config-sized set by the sim_* contract), and the cells scan
    * carries `cell IN (probes)` — which the parquet reader turns into
    * PARTITION PRUNING (the spec asserts `PartitionFilters` on the
    * plan). Ranking/tie rules are [[ivfTopKWith]]'s verbatim, so the
    * cold route answers EQUAL the in-memory route's for the same
    * centroids (spec-asserted). */
  def ivfIndexTopK(spark: org.apache.spark.sql.SparkSession, indexDir: String,
      queryIds: Seq[Long], nProbe: Int, k: Int,
      capPerCell: Int = CandidateCap,
      source: Option[String] = None): DataFrame = {
    // unified freshness (r13 #9): when the caller names the SOURCE the
    // index answers for, serving REFUSES on a stale layout instead of
    // silently answering from a pre-append generation — the in-place
    // twin of the key-addressed caches' openFresh
    source.foreach(graft.load.IndexKeys.requireFresh(indexDir, _))
    val cents = spark.read.parquet(s"$indexDir/centroids")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1).toSeq
    val cells = spark.read.parquet(s"$indexDir/cells")
    val idCol = cells.columns.filterNot(Set("v", "nv", "cell")).head
    // query rows collect ONCE (config-sized by the sim_* queries
    // contract) and probes compute DRIVER-side against the collected
    // centroids — the first formulation evaluated the query subplan
    // twice (once for the probe-cell collect, once inside the join),
    // paying an extra full-index scan per serve (code-review r12).
    // The fetch itself resolves qid→cell through the slim id-sorted
    // side table and reads vectors from ONLY those cells' partitions
    // (ADVICE r14 #4, the IVF-PQ route's fix applied here too);
    // pre-`ids/` layouts fall back to the full filter; unknown ids
    // fail loudly instead of silently shrinking the result.
    val distinctQ = queryIds.distinct
    val idsDir = java.nio.file.Paths.get(s"$indexDir/ids")
    val qSrc =
      if (java.nio.file.Files.isDirectory(idsDir)) {
        val qc = spark.read.parquet(idsDir.toString)
          .filter(col(idCol).isin(distinctQ: _*))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        // two separate loud failures (code-review r15): a plain
        // length == size compare reported "-1 ids missing" when a
        // RE-APPENDED id had left duplicate side-table rows
        val found = qc.map(_._1)
        val missing = distinctQ.filterNot(found.toSet)
        require(missing.isEmpty,
          s"ivfIndexTopK: ${missing.size} of ${distinctQ.size} query ids " +
            s"are not in the index at $indexDir (e.g. ${missing.take(3).mkString(", ")})")
        require(found.distinct.length == found.length,
          s"ivfIndexTopK: duplicate index rows for query id(s) " +
            s"${found.diff(found.distinct).distinct.take(3).mkString(", ")} at " +
            s"$indexDir — an id was re-appended; rebuild the index")
        cells.filter(col("cell").isin(qc.map(_._2).distinct.toIndexedSeq: _*) &&
          col(idCol).isin(distinctQ: _*))
      } else cells.filter(col(idCol).isin(distinctQ: _*))
    val qRows = qSrc
      .select(col(idCol), col("v"), col("nv"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
    require(qRows.length == distinctQ.size,
      s"ivfIndexTopK: ${distinctQ.size - qRows.length} of ${distinctQ.size} " +
        s"query ids are not in the index at $indexDir")
    def cosTo(v: Seq[Double], c: Seq[Double], nv: Double): Double = {
      var d = 0.0; var i = 0
      while (i < v.length) { d += v(i) * c(i); i += 1 }
      d / (nv * normOf(c))
    }
    val probed = qRows.flatMap { case (qid, qv, qn) =>
      cents.map { case (cid, cv) => (cid, qid, qv, qn, cosTo(qv, cv, qn)) }
        .sortBy { case (cid, _, _, _, ccos) => (-ccos, cid) }
        .take(nProbe)
        .map { case (cid, id, v, n, _) => (cid, id, v, n) }
    }
    import spark.implicits._
    val q = probed.toSeq.toDF("cell", "qid", "qv", "qn")
    val probeCells = probed.map(_._1).distinct.toSeq
    val cand = capPerKey(
        cells.filter(col("cell").isin(probeCells: _*)), "cell", idCol, capPerCell)
      .join(broadcast(q), Seq("cell"))
      .filter(col(idCol) =!= col("qid"))
      .select(col("qid"), col(idCol).as("nn"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nv"))).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("nn").asc)
    cand.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** INCREMENTAL append to a [[buildIvfIndex]] layout — the arrival
    * path of the serving story (the minhash incremental-index
    * doctrine): new vectors assign against the PUBLISHED centroids
    * (config-sized collect — retraining is a rebuild decision, not an
    * append) and land as additional files inside their cells'
    * partitions. Append-mode parquet adds files without touching
    * existing ones, so concurrent serving reads stay consistent at
    * file granularity; the partition-pruned probe picks the new rows
    * up on its next scan with zero index surgery. Returns the number
    * of appended vectors. */
  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, emb: DataFrame, idCol: String, vecCol: String,
      source: Option[String] = None): Long = {
    val cents = spark.read.parquet(s"$indexDir/centroids")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1).toSeq
    val v = emb.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nv", norm(col("v")))
      .withColumn("cell", ivfCell(col("v"), col("nv"), cents))
      .localCheckpoint(true) // count + write share one assignment pass
    v.write.mode("append").partitionBy("cell").parquet(s"$indexDir/cells")
    // the qid→cell side table rides every append (r15): the serve
    // path's query fetch resolves cells through it, so an appended
    // vector must be lookupable immediately or the loud unknown-id
    // assert would misfire on legitimate queries
    if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(s"$indexDir/ids"))) {
      v.select(col(idCol), col("cell"))
        .write.mode("append").parquet(s"$indexDir/ids")
      spark.catalog.refreshByPath(s"$indexDir/ids")
    }
    // Spark caches parquet file listings session-wide (SharedInMemoryCache):
    // without an explicit refresh, a reader that has already scanned this
    // index would keep serving the PRE-append file set indefinitely
    spark.catalog.refreshByPath(s"$indexDir/cells")
    // the append is what catches the index up to the source's current
    // generation — re-stamp so requireFresh admits it again (r13 #9)
    source.foreach(graft.load.IndexKeys.stamp(indexDir, _))
    v.count()
  }

  /** PQ encode of a vector column against caller-supplied codebooks:
    * 0-based code per subspace (first-minimum = smallest code id, the
    * [[pqTopKWith]] tie rule), as one `array<int>` — the compressed
    * form an IVF-PQ index STORES (m bytes-ish per vector instead of
    * dim doubles; the 100 TB memory story of product quantization).
    * Runs through the compiled [[graft.plans.PqEncode]] kernel: the
    * equivalent column-expression tree grew past janino's 64 KB method
    * limit and dropped the stage out of codegen. */
  def pqCodes(vc: Column, codebooks: IndexedSeq[IndexedSeq[Array[Double]]]): Column =
    graft.plans.PqEncode(vc, codebooks.map(_.map(_.toSeq)))

  /** Reconstruction of a [[pqCodes]] column: per subspace, the codeword
    * the stored code names, flattened back to a dim-length vector —
    * the decompression half of ADC scoring (codebooks ride as
    * literals, so this is map-only). */
  def pqReconstruct(codesCol: Column,
      codebooks: IndexedSeq[IndexedSeq[Array[Double]]]): Column =
    // compiled kernel, VALUE-identical to the flatten(element_at(
    // typedlit…)) formulation it replaces (r18): the r17 typedlit form
    // already collapsed nCodes × dim CreateArray/lit nodes into one
    // Literal per subspace, but at the m=8 × nCodes=256 rung those
    // Literals still made every driver-side plan comparison (AQE
    // re-optimization, canonicalization) walk ~16k-element arrays —
    // the query's wall was 3× its task time. The kernel holds the
    // books as a reference object outside the expression tree.
    graft.plans.PqDecode(codesCol, codebooks.map(_.map(_.toSeq)))

  /** IVF-PQ composed retrieval — the two scale levers stacked the way
    * a billion-vector serving stack stacks them (Jégou et al., PAMI'11:
    * IVFADC): the COARSE quantizer prunes which cells are scanned at
    * all (IVF — touch nProbe/k of the corpus), and the PRODUCT
    * quantizer compresses what a scanned row costs (ADC scoring reads
    * m codes, not dim doubles). Pipeline: map-only cell assignment +
    * PQ encode → probe the `nProbe` best cells per query → ADC
    * shortlist (cos(query, reconstruction), top k·`overfetch` per
    * query, ties → nn) → EXACT re-rank of the shortlist only. Both
    * stages are window-ranked on the same (score desc, nn asc) rule,
    * so the result is deterministic and the DuckDB twin replays it
    * bit-for-bit (trained centroids/codebooks are grid-round-exact,
    * dots are the shared strict LTR fold).
    *
    * Shuffles: ONE (the qid-keyed shortlist/re-rank windows share the
    * candidate exchange); candidate volume is probed-cell occupancy,
    * never O(Q·N). Encodes-on-the-fly here (in-memory route);
    * [[buildIvfPqIndex]] persists the codes so serving never re-pays
    * the encode. */
  def ivfPqTopKWith(emb: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Long, Seq[Double])],
      codebooks: IndexedSeq[IndexedSeq[Array[Double]]],
      nProbe: Int, queryIds: Seq[Long], k: Int, overfetch: Int = 4,
      capPerCell: Int = CandidateCap): DataFrame = {
    require(overfetch > 0, "overfetch must be positive")
    val v = emb.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nv", norm(col("v")))
    val assigned = capPerKey(
      v.withColumn("cell", ivfCell(col("v"), col("nv"), centroids)),
      "cell", idCol, effectiveCap(capPerCell, overfetch))
      .withColumn("rv", pqReconstruct(pqCodes(col("v"), codebooks), codebooks))
      .withColumn("rn", norm(col("rv")))
    val probed = v.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("qid"), col("v").as("qv"), col("nv").as("qn"))
      .select(col("qid"), col("qv"), col("qn"),
        explode(ivfProbes(col("qv"), centroids, nProbe)).as("cell"))
    val cand = assigned.join(broadcast(probed), Seq("cell"))
      .filter(col(idCol) =!= col("qid"))
    val wAdc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("adc").desc, col("nn").asc)
    val wEx = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("nn").asc)
    cand
      .select(col("qid"), col(idCol).as("nn"),
        (dot(col("qv"), col("rv")) / (col("qn") * col("rn"))).as("adc"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nv"))).as("cos"))
      .withColumn("arn", row_number().over(wAdc))
      .filter(col("arn") <= k * overfetch)
      .withColumn("rank", row_number().over(wEx)).filter(col("rank") <= k)
      .select(col("qid"), col("nn"), col("rank"), col("cos"))
  }

  /** Unit-vector column — the cosine-geometry projection ([[trainKMeans]]'s
    * normalization, re-applied at encode time): x/|v| per element, zero
    * vectors map to zero. Cosine is scale-invariant in its second
    * argument, so ranking against a reconstruction of unit(v) EQUALS
    * ranking against a reconstruction of v — encoding the unit vector
    * loses nothing and puts residuals on the centroids' scale. */
  private def unitCol(vc: Column, nv: Column): Column =
    transform(vc, x => when(nv === 0d, lit(0.0)).otherwise(x / nv))

  /** Literal (cell → centroid) lookup. [[trainKMeans]] ids are dense
    * 0..k−1 by construction (seed order); enforced here because
    * element_at indexing silently mis-addresses a sparse id space. */
  private def centroidOfCell(centroids: Seq[(Long, Seq[Double])],
      cell: Column): Column = {
    val sorted = centroids.sortBy(_._1)
    require(sorted.map(_._1) == (0L until sorted.length.toLong),
      s"centroid ids must be dense 0..${sorted.length - 1}")
    element_at(typedlit(sorted.map(_._2)), cell.cast("int") + lit(1))
  }

  /** (id, v, nv, cell, r) — every vector's RESIDUAL against its
    * assigned coarse centroid, in unit-vector space: r = unit(v) −
    * c_cell. The IVFADC refinement's input (Jégou et al., PAMI'11 §IV):
    * raw-vector PQ codes collapse on a clustered corpus (all true
    * neighbors share a cell and quantize near-identically — measured
    * recall@10 0.07 on the 16-cluster MoG corpus vs 0.37 structureless),
    * while residuals carry exactly the within-cell variation ADC needs
    * to rank. Map-only over broadcast-literal centroids. */
  private def residualFrame(emb: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Long, Seq[Double])]): DataFrame = {
    val v = emb.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nv", norm(col("v")))
    v.withColumn("cell", ivfCell(col("v"), col("nv"), centroids))
      .withColumn("r", zip_with(unitCol(col("v"), col("nv")),
        centroidOfCell(centroids, col("cell")), (a, b) => a - b))
  }

  /** PQ codebooks trained on coarse-cell RESIDUALS — [[trainPqCodebooks]]
    * fed the residual frame (its internal grid-round then applies to
    * the residuals; components are < 2², so the ≤2²⁰-term exact-sum
    * bound holds with bits to spare and the DuckDB twin replays the
    * training bit-for-bit). */
  def trainResidualPqCodebooks(emb: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Long, Seq[Double])], m: Int, nCodes: Int, nTrain: Int,
      iters: Int = 2): IndexedSeq[IndexedSeq[Array[Double]]] =
    trainPqCodebooks(residualFrame(emb, idCol, vecCol, centroids),
      idCol, "r", m, nCodes, nTrain, iters)

  /** IVF-PQ with RESIDUAL encoding — the full IVFADC formulation:
    * [[ivfPqTopKWith]] encodes raw vectors, which is the right cost
    * shape but quantizes a clustered cell's members onto near-identical
    * codes (the ADC shortlist then cannot rank within the cell — the
    * measured MoG collapse above); here each row stores codes of
    * r = unit(v) − c_cell and ADC scores cos(q, c_cell + recon(r)), so
    * the codes spend their 2^codeBits resolution on the within-cell
    * variation that actually discriminates neighbors. Same pipeline
    * shape and ONE shuffle as the raw form; same (score desc, nn asc)
    * determinism, so the DuckDB twin replays it bit-for-bit. */
  def ivfPqResidualTopKWith(emb: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Long, Seq[Double])],
      codebooks: IndexedSeq[IndexedSeq[Array[Double]]],
      nProbe: Int, queryIds: Seq[Long], k: Int, overfetch: Int = 4,
      capPerCell: Int = CandidateCap): DataFrame = {
    require(overfetch > 0, "overfetch must be positive")
    val v = emb.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nv", norm(col("v")))
    val assigned = capPerKey(
      v.withColumn("cell", ivfCell(col("v"), col("nv"), centroids)),
      "cell", idCol, effectiveCap(capPerCell, overfetch))
      .withColumn("r", zip_with(unitCol(col("v"), col("nv")),
        centroidOfCell(centroids, col("cell")), (a, b) => a - b))
      .withColumn("recon", zip_with(centroidOfCell(centroids, col("cell")),
        pqReconstruct(pqCodes(col("r"), codebooks), codebooks), (a, b) => a + b))
      .withColumn("rn", norm(col("recon")))
    val probed = v.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("qid"), col("v").as("qv"), col("nv").as("qn"))
      .select(col("qid"), col("qv"), col("qn"),
        explode(ivfProbes(col("qv"), centroids, nProbe)).as("cell"))
    val cand = assigned.join(broadcast(probed), Seq("cell"))
      .filter(col(idCol) =!= col("qid"))
    val wAdc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("adc").desc, col("nn").asc)
    val wEx = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("nn").asc)
    cand
      .select(col("qid"), col(idCol).as("nn"),
        (dot(col("qv"), col("recon")) / (col("qn") * col("rn"))).as("adc"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nv"))).as("cos"))
      .withColumn("arn", row_number().over(wAdc))
      .filter(col("arn") <= k * overfetch)
      .withColumn("rank", row_number().over(wEx)).filter(col("rank") <= k)
      .select(col("qid"), col("nn"), col("rank"), col("cos"))
  }

  /** PERSISTED IVF-PQ index — [[buildIvfIndex]]'s layout with the PQ
    * codes MATERIALIZED per row: `cells/` is partitioned by cell id
    * (probe-time partition pruning, the disk-level 100 TB lever) and
    * each row carries (id, codes array<int>, rn, v, nv) — the ADC scan
    * reads only (id, codes, rn) column pages (columnar pruning: a few
    * bytes per row), and the exact vectors are touched ONLY for the
    * shortlist. Centroids and codebooks land beside the cells
    * (config-sized). `rn` = reconstruction norm, precomputed at build
    * so serving never re-derives it. Returns (centroids, codebooks). */
  def buildIvfPqIndex(emb: DataFrame, idCol: String, vecCol: String,
      kCells: Int, m: Int, nCodes: Int, nTrain: Int, outDir: String,
      source: Option[String] = None, residual: Boolean = false)
      : (Seq[(Long, Seq[Double])], IndexedSeq[IndexedSeq[Array[Double]]]) = {
    val cents = trainKMeans(emb, idCol, vecCol, kCells, nTrain)
    val books =
      if (residual) trainResidualPqCodebooks(emb, idCol, vecCol, cents, m, nCodes, nTrain)
      else trainPqCodebooks(emb, idCol, vecCol, m, nCodes, nTrain)
    val spark = emb.sparkSession
    import spark.implicits._
    // one BUILD ID rides every artifact of this build (r16 review: the
    // geom column alone left a window — a crash between the codebooks
    // overwrite and the cells overwrite leaves NEW books over OLD codes
    // with geom/marker still self-consistent; the build id makes any
    // torn combination of centroids/codebooks/cells loud at serve)
    val buildId = java.util.UUID.randomUUID().toString
    cents.map { case (cid, cv) => (cid, cv) }.toDF("cid", "cv")
      .withColumn("build", lit(buildId))
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/centroids")
    books.indices.flatMap(mi => books(mi).indices.map(code =>
        (mi, code, books(mi)(code).toSeq)))
      .toDF("m", "code", "c")
      .withColumn("build", lit(buildId))
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/codebooks")
    val v = emb.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nv", norm(col("v")))
    val assigned = v.withColumn("cell", ivfCell(col("v"), col("nv"), cents))
    // residual layout: codes encode r = unit(v) − c_cell and `rn` is
    // the FULL reconstruction's norm (c_cell + recon(r)) — serving
    // needs only (codes, rn, cell) for ADC either way, so the page
    // shape and the narrow-scan property are identical to the raw form
    val encoded =
      if (residual) {
        val withR = assigned.withColumn("r",
          zip_with(unitCol(col("v"), col("nv")),
            centroidOfCell(cents, col("cell")), (a, b) => a - b))
          .withColumn("codes", pqCodes(col("r"), books))
        withR.withColumn("rn", norm(zip_with(centroidOfCell(cents, col("cell")),
            pqReconstruct(col("codes"), books), (a, b) => a + b)))
          .drop("r")
      } else assigned
        .withColumn("codes", pqCodes(col("v"), books))
        .withColumn("rn", norm(pqReconstruct(col("codes"), books)))
    // layout marker: a serve call MUST reconstruct in the geometry the
    // codes were built in — a raw-decode of residual codes would be
    // silently wrong, so the flag lives in the layout, not the caller.
    // Written BEFORE the cells and double-checked against a per-row
    // `geom` column that rides the codes themselves (ADVICE r15: the
    // old marker-last order meant a crash between the cells overwrite
    // and the marker write/delete left codes the serve path silently
    // decoded in the wrong geometry; now any marker-vs-codes mismatch
    // fails loudly at serve — the column is a constant, so parquet RLE
    // stores it in a few bytes per row group)
    val geom = if (residual) "residual" else "raw"
    if (residual) java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/residual.marker"), "residual\n")
    else java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$outDir/residual.marker"))
    encoded.withColumn("geom", lit(geom)).withColumn("build", lit(buildId))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$outDir/cells")
    // slim qid→cell side table, RANGE-laid on id so a serve call's
    // pushed In filter prunes to the matching row groups (ADVICE r14
    // #4: filtering the cells by id scanned every partition of the
    // index to locate the queries) — 16 bytes/row, never the vectors.
    // Read back from the just-written cells rather than re-executing
    // `assigned` (code-review r15: the unmaterialized plan re-ran the
    // corpus scan + assignment + encode a second time)
    spark.read.parquet(s"$outDir/cells")
      .select(col(idCol), col("cell").cast("long").as("cell"))
      .repartitionByRange(8, col(idCol)).sortWithinPartitions(col(idCol))
      .write.mode("overwrite").parquet(s"$outDir/ids")
    source.foreach(graft.load.IndexKeys.stamp(outDir, _))
    (cents, books)
  }

  /** INCREMENTAL append to a [[buildIvfPqIndex]] layout — the IVFADC
    * arrival discipline: quantizers are FROZEN at build time
    * (retraining is a rebuild decision, not an append), so arrivals
    * assign against the published centroids, encode against the
    * published codebooks in the layout's OWN geometry (the
    * residual.marker governs, exactly as at serve), and land as
    * additional files inside their cells' partitions carrying the SAME
    * build id — the serve path's geom/build cross-checks admit them as
    * first-class rows. Append-mode parquet adds files without touching
    * existing ones, so concurrent serving reads stay consistent at
    * file granularity; the ids side table rides the append like
    * [[appendToIvfIndex]]'s. Pre-build-id layouts are REFUSED: an
    * append cannot prove it encodes against the quantizers the
    * resident codes were built with, and mixed-era cells are exactly
    * the torn state the serve checks exist to make loud — rebuild
    * first. Returns the number of appended vectors. */
  def appendToIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, emb: DataFrame, idCol: String, vecCol: String,
      source: Option[String] = None): Long = {
    val centDf = spark.read.parquet(s"$indexDir/centroids")
    val bookDf = spark.read.parquet(s"$indexDir/codebooks")
    require(centDf.columns.contains("build") && bookDf.columns.contains("build"),
      s"appendToIvfPqIndex: the layout at $indexDir predates build-stamped " +
        "artifacts — rebuild it before appending (appended codes could not " +
        "carry the build id the serve path's torn-rebuild checks key on)")
    val bCent = centDf.select("build").head.getString(0)
    val bBooks = bookDf.select("build").head.getString(0)
    require(bCent == bBooks,
      s"appendToIvfPqIndex: centroids and codebooks at $indexDir come from " +
        "different builds — a rebuild crashed between their writes; rebuild " +
        "before appending")
    val cents = centDf.collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1).toSeq
    val bookRows = bookDf
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray))
      .toMap
    val m = bookRows.keys.map(_._1).max + 1
    val nCodes = bookRows.keys.map(_._2).max + 1
    val books: IndexedSeq[IndexedSeq[Array[Double]]] =
      (0 until m).map(mi => (0 until nCodes).map(code => bookRows((mi, code))))
    val isResidual = java.nio.file.Files.isRegularFile(
      java.nio.file.Paths.get(s"$indexDir/residual.marker"))
    val v = emb.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nv", norm(col("v")))
    val assigned = v.withColumn("cell", ivfCell(col("v"), col("nv"), cents))
    val encoded =
      if (isResidual) {
        val withR = assigned.withColumn("r",
          zip_with(unitCol(col("v"), col("nv")),
            centroidOfCell(cents, col("cell")), (a, b) => a - b))
          .withColumn("codes", pqCodes(col("r"), books))
        withR.withColumn("rn", norm(zip_with(centroidOfCell(cents, col("cell")),
            pqReconstruct(col("codes"), books), (a, b) => a + b)))
          .drop("r")
      } else assigned
        .withColumn("codes", pqCodes(col("v"), books))
        .withColumn("rn", norm(pqReconstruct(col("codes"), books)))
    val geom = if (isResidual) "residual" else "raw"
    val out = encoded.withColumn("geom", lit(geom)).withColumn("build", lit(bCent))
      .localCheckpoint(true) // count + both writes share one encode pass
    out.write.mode("append").partitionBy("cell").parquet(s"$indexDir/cells")
    if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(s"$indexDir/ids"))) {
      out.select(col(idCol), col("cell").cast("long").as("cell"))
        .write.mode("append").parquet(s"$indexDir/ids")
      spark.catalog.refreshByPath(s"$indexDir/ids")
    }
    // parquet file listings cache session-wide — without the refresh a
    // reader that already scanned this index keeps the pre-append set
    spark.catalog.refreshByPath(s"$indexDir/cells")
    source.foreach(graft.load.IndexKeys.stamp(indexDir, _))
    out.count()
  }

  /** Serve top-k from a [[buildIvfPqIndex]] layout. Two scans of the
    * PRUNED partitions, both cheap for different reasons: the ADC pass
    * reads only the (id, codes, rn) pages of the probed cells and
    * reconstructs against broadcast-literal codebooks; the exact pass
    * re-reads the same pruned partitions but keeps only shortlist rows
    * (a broadcast semi-probe — queries × k × overfetch ids), paying
    * the wide `v` column for those alone. Ranking/tie rules are
    * [[ivfPqTopKWith]]'s verbatim, so the cold route's answers EQUAL
    * the in-memory route's for the same quantizers (spec-asserted). */
  def ivfPqIndexTopK(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, queryIds: Seq[Long], nProbe: Int, k: Int,
      overfetch: Int = 4, capPerCell: Int = CandidateCap,
      source: Option[String] = None): DataFrame = {
    source.foreach(graft.load.IndexKeys.requireFresh(indexDir, _))
    val centDf = spark.read.parquet(s"$indexDir/centroids")
    val bookDf = spark.read.parquet(s"$indexDir/codebooks")
    // build-id agreement across the config-sized artifacts (driver-side,
    // free): a crash between the centroids and codebooks overwrites
    // leaves quantizers from two different trainings — refuse loudly
    def buildOf(df: org.apache.spark.sql.DataFrame): Option[String] =
      if (df.columns.contains("build"))
        Some(df.select("build").head.getString(0))
      else None // pre-r16 layout
    val bCent = buildOf(centDf); val bBooks = buildOf(bookDf)
    require(bCent == bBooks,
      s"ivfPqIndexTopK: centroids and codebooks at $indexDir come from " +
        "different builds — a rebuild crashed between their writes; rebuild")
    val cents = centDf
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1).toSeq
    val bookRows = bookDf
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray))
      .toMap
    val m = bookRows.keys.map(_._1).max + 1
    val nCodes = bookRows.keys.map(_._2).max + 1
    val books: IndexedSeq[IndexedSeq[Array[Double]]] =
      (0 until m).map(mi => (0 until nCodes).map(code => bookRows((mi, code))))
    val cells = spark.read.parquet(s"$indexDir/cells")
    val idCol = cells.columns
      .filterNot(Set("v", "nv", "cell", "codes", "rn", "geom", "build")).head
    // query-vector fetch (ADVICE r14 #4): resolve qid→cell through the
    // slim id-sorted side table (pushed In filter → row-group pruning;
    // 16 bytes/row), then read the vectors from ONLY those cells'
    // partitions — the old id-only filter scanned every partition of
    // the index per serve call. Pre-`ids/` indexes fall back to the
    // full filter; unknown query ids fail LOUDLY either way instead of
    // silently shrinking the result.
    val distinctQ = queryIds.distinct
    val idsDir = java.nio.file.Paths.get(s"$indexDir/ids")
    val qSrc =
      if (java.nio.file.Files.isDirectory(idsDir)) {
        val qc = spark.read.parquet(idsDir.toString)
          .filter(col(idCol).isin(distinctQ: _*))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        // split failures like ivfIndexTopK (code-review r15): missing
        // ids and duplicate side-table rows are different defects and
        // a combined length compare mis-reports both
        val found = qc.map(_._1)
        val missing = distinctQ.filterNot(found.toSet)
        require(missing.isEmpty,
          s"ivfPqIndexTopK: ${missing.size} of ${distinctQ.size} query ids " +
            s"are not in the index at $indexDir (e.g. ${missing.take(3).mkString(", ")})")
        require(found.distinct.length == found.length,
          s"ivfPqIndexTopK: duplicate index rows for query id(s) " +
            s"${found.diff(found.distinct).distinct.take(3).mkString(", ")} at " +
            s"$indexDir — an id was re-appended; rebuild the index")
        cells.filter(col("cell").isin(qc.map(_._2).distinct.toIndexedSeq: _*) &&
          col(idCol).isin(distinctQ: _*))
      } else cells.filter(col(idCol).isin(distinctQ: _*))
    val qRows = qSrc
      .select(col(idCol), col("v"), col("nv"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
    require(qRows.length == distinctQ.size,
      s"ivfPqIndexTopK: ${distinctQ.size - qRows.length} of ${distinctQ.size} " +
        s"query ids are not in the index at $indexDir")
    def cosTo(v: Seq[Double], c: Seq[Double], nv: Double): Double = {
      var d = 0.0; var i = 0
      while (i < v.length) { d += v(i) * c(i); i += 1 }
      d / (nv * normOf(c))
    }
    val probed = qRows.flatMap { case (qid, qv, qn) =>
      cents.map { case (cid, cv) => (cid, qid, qv, qn, cosTo(qv, cv, qn)) }
        .sortBy { case (cid, _, _, _, ccos) => (-ccos, cid) }
        .take(nProbe)
        .map { case (cid, id, v, n, _) => (cid, id, v, n) }
    }
    import spark.implicits._
    val q = probed.toSeq.toDF("cell", "qid", "qv", "qn")
    val probeCells = probed.map(_._1).distinct.toSeq
    val pruned = capPerKey(
      cells.filter(col("cell").isin(probeCells: _*)), "cell", idCol,
      effectiveCap(capPerCell, overfetch))
    // ADC pass: codes + rn column pages only — the narrow scan
    val wAdc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("adc").desc, col("nn").asc)
    // residual layouts reconstruct c_cell + recon(codes) — the marker
    // travels with the layout so a serve call can never decode residual
    // codes in raw geometry (silently wrong answers) or vice versa.
    // The per-row `geom` column (written in the SAME job as the codes,
    // r16) cross-checks the marker: a crash that left marker and codes
    // out of step fails loudly here instead of decoding wrong —
    // assert_true rides the narrow ADC scan (one constant compare per
    // row) and returns NULL on success, so the filter keeps every row.
    val isResidual = java.nio.file.Files.isRegularFile(
      java.nio.file.Paths.get(s"$indexDir/residual.marker"))
    val expectedGeom = if (isResidual) "residual" else "raw"
    val reconCol =
      if (isResidual) zip_with(centroidOfCell(cents, col("cell")),
        pqReconstruct(col("codes"), books), (a, b) => a + b)
      else pqReconstruct(col("codes"), books)
    // pre-r16 layouts carry no geom/build on the cells — passthrough is
    // only legitimate when the quantizers are ALSO pre-r16 (no build
    // column). Build-stamped centroids/codebooks over geom-less cells
    // can only mean a rebuild that crashed after the quantizer writes
    // but before the cells overwrite; decoding old codes with new
    // quantizers would be silently wrong (ADVICE r16), so refuse.
    require(bBooks.isEmpty || pruned.columns.contains("geom"),
      s"ivfPqIndexTopK: quantizers at $indexDir carry build id " +
        s"${bBooks.get} but the cells have no geom/build columns — a " +
        "rebuild crashed between the quantizer and cell writes; rebuild")
    val geomChecked =
      if (!pruned.columns.contains("geom")) pruned // pre-r16 layout
      else {
        val expect = bBooks match {
          case Some(b) if pruned.columns.contains("build") =>
            col("geom") === lit(expectedGeom) && col("build") === lit(b)
          case _ => col("geom") === lit(expectedGeom)
        }
        pruned.filter(assert_true(expect,
          lit(s"ivfPqIndexTopK: index at $indexDir has codes whose geometry " +
            s"or build id contradicts its quantizers (expected $expectedGeom" +
            bBooks.map(b => s", build $b").getOrElse("") +
            ") — a rebuild crashed partway; rebuild the index")).isNull)
      }
    val shortlist = geomChecked
      .select(col("cell"), col(idCol).as("nn"),
        reconCol.as("rv"), col("rn"))
      .join(broadcast(q), Seq("cell"))
      .filter(col("nn") =!= col("qid"))
      .select(col("qid"), col("nn"),
        (dot(col("qv"), col("rv")) / (col("qn") * col("rn"))).as("adc"))
      .withColumn("arn", row_number().over(wAdc))
      .filter(col("arn") <= k * overfetch)
      .select(col("qid"), col("nn"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // exact pass: the shortlist is queries × k × overfetch pairs —
    // config-sized by the sim_* contract — so its ids PUSH DOWN into
    // the re-read as a parquet In filter (row-group min/max pruning on
    // top of the partition pruning; a join-only formulation would read
    // every row of the probed cells' `v` pages)
    val shortIds = shortlist.map(_._2).distinct.toSeq
    val slDf = shortlist.toSeq.toDF("qid", "nn")
    val wEx = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("nn").asc)
    cells.filter(col("cell").isin(probeCells: _*))
      .filter(col(idCol).isin(shortIds: _*))
      .select(col(idCol).as("nn"), col("v"), col("nv"))
      .join(broadcast(slDf), Seq("nn"))
      .join(broadcast(q.select(col("qid"), col("qv"), col("qn")).distinct()), Seq("qid"))
      .select(col("qid"), col("nn"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nv"))).as("cos"))
      .withColumn("rank", row_number().over(wEx)).filter(col("rank") <= k)
      .select(col("qid"), col("nn"), col("rank"), col("cos"))
  }

  /** Bucketed ANN: candidates share a bucket; exact cosine re-rank
    * within bucket. */
  def annTopK(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
      numPlanes: Int, k: Int, capPerBucket: Int = CandidateCap): DataFrame = {
    val v = emb.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .withColumn("bucket", lshBucket(col("v"), dim, numPlanes))
      .withColumn("n", norm(col("v")))
    val a = v.select(col("bucket"), col(idCol).as("qid"), col("v").as("qv"), col("n").as("qn"))
    val b = capPerKey(v, "bucket", idCol, capPerBucket)
      .select(col("bucket"), col(idCol).as("nn"), col("v").as("nv"), col("n").as("nnorm"))
    val scored = a.join(b, Seq("bucket")).filter(col("qid") =!= col("nn"))
      .select(col("qid"), col("nn"),
        (dot(col("qv"), col("nv")) / (col("qn") * col("nnorm"))).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("nn").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }
}
