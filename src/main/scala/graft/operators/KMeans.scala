package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed Lloyd k-means over integer-micro vectors — the clustering
  * primitive behind semantic dedup (SemDeDup-style: cluster embeddings,
  * prune near-duplicates within clusters) and IVF-style coarse quantization.
  *
  * Determinism design (what makes this oracle-checkable AND reproducible on
  * a cluster): coordinates are exact integer micros (caller quantizes via
  * floor(x·10⁶)), so every distance is an exact BIGINT and every centroid
  * update is an order-independent integer sum + truncating division —
  * float k-means is not reproducible under distributed reduction. Ties in
  * assignment break to the lowest cluster index (struct min), identically
  * in the DuckDB twin.
  *
  * Scale shape (the MLlib shape): centroids are collected to the driver
  * after each update — k·dim longs, KBs — and re-broadcast as literals, so
  * every ASSIGNMENT pass is pure map-side (no join, no shuffle); the only
  * shuffle per iteration is the O(k·dim)-wide partial-aggregated centroid
  * update. Input vectors are persisted once via [[CacheScope]] (passes+1
  * scans). Empty clusters simply drop out (same as the oracle's GROUP BY).
  *
  * Overflow bound: Σ_dim diff² must stay within a signed 64-bit long —
  * with diff ≤ 2·maxAbs that means maxAbs ≤ 2^(30.5 − log₂(dim)/2), i.e.
  * |micros| ≤ ~2²⁵ at dim 1024 (≈2²⁸ at dim 64). Unit-scale embeddings
  * (|x| ≤ 1 → |micros| ≤ 10⁶ < 2²⁰) sit far inside it; exceeding the bound
  * wraps silently, so callers quantizing larger ranges must rescale.
  */
object KMeans {

  /** Result of [[fit]]: final assignments (id, cluster, d2) — d2 in
    * micros² against the centroids of the LAST pass — plus those centroids
    * as (clusterIndex → coordinates) for downstream scoring. */
  final case class Model(assignments: DataFrame, centroids: Seq[(Int, Seq[Long])])

  /** k sized so the MEAN cluster holds ~`target` vectors — the scale rule
    * for SemDeDup-style use, where within-cluster pair generation is
    * O(Σ n_c²): a constant k makes clusters grow linearly with N and the
    * pair stage quadratic (the same failure mode `planeCountFor` fixes for
    * the LSH buckets). ceil(N/target), floored at 8 — at the sf corpus
    * (N=500) this is exactly the floor, so catalog outputs (and the static
    * oracle SQL) stay on k=8; at N=4×10⁹ with the 1024 default it is ~3.9M
    * clusters, and the 2²² cap binds beyond ~4.3B. Driver-side cost scales
    * as k·dim longs per update — [[fit]]'s centroid-LITERAL plan accepts
    * k ≤ 65536 (≈32 MB of literals at dim 64); past that, keep centroids
    * in a persisted TABLE and join (broadcast or co-partitioned), same
    * math — [[fitCentroidTable]] is that variant, bit-identical where both
    * run. kFor still reports the ideal cluster count for the algorithm
    * regardless of which plan carries it. */
  def kFor(n: Long, target: Long = 1024L): Int = {
    val needed = math.ceil(math.max(1.0, n.toDouble) / target).toLong
    math.max(8L, math.min(1L << 22, needed)).toInt
  }

  /** Run `passes` assignment passes with centroid updates between them
    * (passes=2 ⇒ init → assign → update → assign-out). Initial centroids
    * are the `k` lowest-id vectors, cluster index = rank order (ties on id
    * impossible: ids are unique).
    *
    * @param vecs   (idCol, vecCol: array&lt;long&gt; integer micros)
    * @param scope  cache owner for the persisted input (see [[CacheScope]])
    */
  def fit(vecs: DataFrame, idCol: String = "vec_id", vecCol: String = "v",
      k: Int = 8, passes: Int = 2,
      scope: CacheScope = CacheScope.Unmanaged): Model = {
    require(passes >= 1, "need at least one assignment pass")
    // the centroid-literal plan embeds k·dim longs into every assignment
    // expression: fine through tens of thousands of clusters, but a 2²²-
    // cluster fit would be a multi-GB codegen unit — that regime belongs to
    // the persisted-centroid-table variant (see kFor's scaladoc)
    require(k >= 1 && k <= 65536,
      s"k=$k out of range for the centroid-literal plan (1..65536); " +
        "use fitCentroidTable for the large-k regime")
    val v = scope.track(vecs.select(col(idCol).as("id"), col(vecCol).as("v")))

    def collectCentroids(df: DataFrame): Seq[(Int, Seq[Long])] =
      df.collect().map(r => r.getInt(0) -> r.getSeq[Long](1).toSeq).toSeq.sortBy(_._1)

    var cents: Seq[(Int, Seq[Long])] = collectCentroids(
      v.orderBy("id").limit(k)
        .select(row_number().over(org.apache.spark.sql.expressions.Window.orderBy("id"))
          .cast("int").minus(1).as("c"), col("v"))
        .select(col("c"), col("v")))
    // an empty array_min(array()) fails analysis with an opaque planner
    // error — surface the actual problem instead
    require(cents.nonEmpty, "KMeans.fit: input has no vectors")

    // native codegen distance (plans.VectorExpressions.VecL2Sq) — the
    // interpreted zip_with lambda costs k×dim dispatches per row;
    // registration is idempotent on a live session
    graft.plans.GraftExtensions.register(vecs.sparkSession)

    def assign(cs: Seq[(Int, Seq[Long])]): DataFrame = {
      // argmin over centroid literals: one struct-min over k map-side
      // distances, ties to the lowest cluster index by struct ordering
      val scored = array(cs.map { case (c, cv) =>
        struct(
          call_function("vec_l2sq", col("v"), typedlit(cv)).as("d2"),
          lit(c).as("c"))
      }: _*)
      v.select(col("id"), col("v"), array_min(scored).as("best"))
        .select(col("id"), col("v"),
          col("best.c").as("cluster"), col("best.d2").as("d2"))
    }

    for (_ <- 1 until passes) {
      cents = collectCentroids(
        updateCentroids(assign(cents)).select(col("c").cast("int"), col("cv")))
    }
    Model(assign(cents).drop("v"), cents)
  }

  /** Integer-mean centroid update from an assignment frame
    * (cluster, v: array&lt;long&gt;) → (c, cv) — SHARED by [[fit]] and
    * [[fitCentroidTable]] so the two plans can never drift apart (their
    * bit-identity is spec-pinned). */
  private def updateCentroids(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cluster"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("cluster", "dim")
      .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
      .select(col("cluster"), col("dim"), expr("s div n").as("m"))
      .groupBy("cluster")
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
      .select(col("cluster").as("c"), expr("transform(dm, e -> e.m)").as("cv"))

  /** The LARGE-k regime of [[fit]] (millions of clusters, where embedding
    * centroids as plan literals would be a multi-GB codegen unit): centroids
    * live in a DataFrame, assignment is a size-guarded-broadcast join +
    * per-vector argmin (struct min — the identical tie-break), updates are
    * the same integer-mean aggregation kept distributed instead of
    * collected. With `prune = false` (default) every assignment scores the
    * full N×k cross and is bit-identical to [[fit]] on any input where
    * both run (OperatorSpec pins it).
    *
    * `prune = true` is the scale path: every assignment AFTER the first
    * scores each vector only against candidate centroids that can possibly
    * beat its previous one — triangle-inequality pruning (Elkan 2003,
    * "Using the Triangle Inequality to Accelerate k-Means"): with
    * u = d(x, c_prev) at c_prev's UPDATED position, any centroid c with
    * d(c_prev, c) > 2u satisfies d(x, c) ≥ d(c_prev, c) − u > u, strictly
    * worse — pruning it can never change the argmin OR an index tie-break
    * (ties need equality, pruned centroids are strictly beyond). So unlike
    * a fixed "P nearest clusters" IVF probe — which OperatorSpec showed
    * diverging on diffuse high-dim data — the pruned fit is EXACT on any
    * input, bit-identical to the unpruned plan, while the per-vector radius
    * adapts: ~1 candidate in the tight-cluster regime, degrading gracefully
    * toward k when the data has no cluster structure to exploit.
    *
    * Cost model at N=4·10⁹, k=kFor(N)≈3.9·10⁶: exact assignment is
    * N·k ≈ 1.5·10¹⁶ distances per pass; pruned is one k² ≈ 1.5·10¹³
    * centroid-pair table (1000× less) plus N upper-bound distances plus
    * N·(candidates kept) scoring. Past k ~ 10⁵ the k² stage itself needs
    * the standard two-level IVF recursion — `coarseCells` > 1 enables it:
    * centroids coarse-quantize into that many cells (one cheap literal-
    * plan pass over k rows), and the pair table enumerates only cells a
    * cluster's pair radius can reach. Soundness is again the triangle
    * inequality, kept integer-exact through squaring by a factor-2 slack:
    * a cell at center m with radius r is skipped for cluster ca with pair
    * radius R only when d²(ca,m) > 2·(R² + r²) ≥ (R + r)², which implies
    * every member is strictly beyond R — so the restricted table still
    * contains every pair any member vector's own filter could keep, and
    * the assignment stays bit-identical (OperatorSpec pins a 64-cluster
    * planted fixture and the corpus). R² = 4·max(u²) over the cluster's
    * members: no pair beyond it can survive any per-vector filter.
    * Overflow: the squared-space tests compare 4·u² and 2·(R²+r²); near
    * the top bits of a long (callers at the very edge of the [[KMeans]]
    * quantization bound — unit-scale embedding micros are ~2²⁰, far
    * inside) every threshold saturates to Long.MaxValue, keeping every
    * candidate: the prune fails SAFE to the exact score, never drops rows.
    *
    * @return assignments (id, cluster, d2) and the final centroid table
    *         (c, v). With `prune = false` both are lazy. With `prune = true`
    *         construction itself runs Spark jobs: every assignment and
    *         every centroid update is an eager [[CacheScope.checkpoint]]
    *         (one job each — this cuts the lineage per pass, so the plan a
    *         pass builds does not embed all earlier passes and both
    *         outputs' plans stay the same size for any `passes`), and with
    *         `coarseCells > 1` the nested coarse fit also collects its cell
    *         seeds and the pair table is counted for a measured broadcast
    *         decision, once per pruned pass. Callers building plans ahead
    *         of execution pay the full multi-pass computation at call time
    *         on the pruned path. Persisted and checkpointed intermediates
    *         belong to `scope` on every path; on the pruned path a pass
    *         frees the checkpoints it supersedes and its own persisted
    *         pair-table inputs, so `scope` holds one pass's worth of
    *         blocks for any `passes`. */
  def fitCentroidTable(vecs: DataFrame, idCol: String = "vec_id",
      vecCol: String = "v", k: Int = 8, passes: Int = 2,
      scope: CacheScope = CacheScope.Unmanaged, prune: Boolean = false,
      coarseCells: Int = 0): (DataFrame, DataFrame) = {
    require(passes >= 1, "need at least one assignment pass")
    require(coarseCells <= 1 || prune,
      "coarseCells refines the pair table of the PRUNED plan; set prune = true")
    // the nested coarse fit carries the literal-plan bound; catching it here
    // beats burning a full pass before the nested require fires mid-run
    require(coarseCells <= 65536,
      s"coarseCells=$coarseCells out of range (the coarse level is a " +
        "centroid-literal fit, 1..65536)")
    import graft.queries.Broadcasting.maybeBroadcast
    val v = scope.track(vecs.select(col(idCol).as("id"), col(vecCol).as("v")))
    graft.plans.GraftExtensions.register(vecs.sparkSession)

    val w = org.apache.spark.sql.expressions.Window.orderBy("id")
    var cents: DataFrame = scope.track(
      v.orderBy("id").limit(k)
        .select(row_number().over(w).cast("int").minus(1).as("c"),
          col("v").as("cv")))

    def argmin(scored: DataFrame): DataFrame =
      scored
        .select(col("id"), col("v"),
          struct(call_function("vec_l2sq", col("v"), col("cv")).as("d2"),
            col("c")).as("sc"))
        .groupBy("id", "v")
        .agg(min(col("sc")).as("best"))
        .select(col("id"), col("v"),
          col("best.c").as("cluster"), col("best.d2").as("d2"))

    def assignExact(cs: DataFrame): DataFrame =
      argmin(v.crossJoin(maybeBroadcast(cs)))

    // every centroid-derived side of a pruned pass holds ≤ k rows of at
    // most an int and dim longs — decide its broadcast on that bound, not
    // on Catalyst's estimate: a checkpointed centroid table carries its
    // producing plan's product estimate (536 MB for 8 centroids on the
    // sf0.01 corpus, past 10³⁵ bytes by pass 3), so maybeBroadcast would
    // shuffle the N-sized side of every pruned join against a k-row table
    lazy val centroidsFit = {
      val dim = v.select(size(col("v"))).limit(1).collect()
        .headOption.fold(0)(_.getInt(0))
      k.toLong * (8L * math.max(dim, 1) + 16L) <=
        graft.queries.Broadcasting.DefaultThresholdBytes
    }
    def centroidSide(df: DataFrame): DataFrame =
      if (centroidsFit) broadcast(df) else df

    /** Triangle-pruned assignment: per-vector upper bound u² against the
      * previous cluster's UPDATED centroid (present by construction — a
      * cluster in `prev` had members, so the update emitted it), then score
      * only centroids with d(c_prev, c)² ≤ 4u². The k² pair table and the
      * centroid sides broadcast on their structural bounds, so the N-sized
      * side never shuffles for candidate generation. */
    // sat(4·x): the ONE saturated-radius form. The soundness proof needs
    // the per-vector radius and the per-cluster rmax to saturate in exact
    // lockstep (radius ≤ rr2 relies on both using this same cutoff), so
    // they must share this definition
    def sat4(x2: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(x2 > lit(Long.MaxValue / 4), lit(Long.MaxValue)).otherwise(lit(4L) * x2)

    def assignPruned(cs: DataFrame, prev: DataFrame, pass: CacheScope): DataFrame = {
      val ubPlan = prev.select(col("id"), col("v"), col("cluster").as("ca"))
        .join(centroidSide(cs.select(col("c").as("ca"), col("cv").as("va"))), "ca")
        .select(col("id"), col("v"), col("ca"),
          call_function("vec_l2sq", col("v"), col("va")).as("ub2"))
      // the coarse path reads ub twice (rmax aggregation + the candidate
      // join) — persist it there, else the N distances recompute per read
      val ub = if (coarseCells > 1) pass.track(ubPlan) else ubPlan

      val dcc =
        if (coarseCells > 1) twoLevelPairs(cs, ub, pass)
        else {
          val full = cs.select(col("c").as("ca"), col("cv").as("va"))
            .crossJoin(centroidSide(cs.select(col("c").as("cb"), col("cv").as("vb"))))
            .select(col("ca"), col("cb"),
              call_function("vec_l2sq", col("va"), col("vb")).as("dcc2"))
          // Catalyst sizes a crossJoin-derived frame as the PRODUCT of its
          // sides — the Bench broadcast-guard log showed 64 actual dcc rows
          // estimated at 154 TB, which would shuffle-join the pair table
          // forever. The real bound is structural: k² rows of two ints + a
          // long, so decide on k, not on the estimate.
          if (k.toLong * k * 24L <= graft.queries.Broadcasting.DefaultThresholdBytes)
            broadcast(full)
          else full
        }

      // 4u² wrapping negative would fail dcc2 = 0 and prune even c_prev —
      // silently LOSING the vector from the output; sat4 keeps everything
      // (= exact score) when u² is in the top 2 bits
      val radius = sat4(col("ub2"))
      argmin(
        ub.join(dcc, "ca")
          .filter(col("dcc2") <= radius)
          .select(col("id"), col("v"), col("cb").as("c"))
          .join(centroidSide(cs.select(col("c"), col("cv"))), "c"))
    }

    /** Two-level pair table: only pairs (ca, cb) with d² ≤ R²(ca), found by
      * probing coarse CELLS of centroids instead of enumerating k². Every
      * pair the per-vector filter (radius 4u² ≤ R²) could keep survives, so
      * the assignment is bit-identical to the full table.
      *
      * NOTE the coarse path adds eager work at plan-construction time on
      * top of the pruned path's per-pass checkpoints: the nested coarse fit
      * collects its cell seeds, and the result is persisted (in the
      * pass's own scope, released once the pass is checkpointed) and
      * counted for a measured broadcast decision. */
    def twoLevelPairs(cs: DataFrame, ub: DataFrame, pass: CacheScope): DataFrame = {
      // per-cluster pair radius R² = sat(4·max u²): no member's own filter
      // can reach beyond it — MUST be the same saturation as the
      // per-vector radius (see sat4)
      val rmax = ub.groupBy("ca").agg(max(col("ub2")).as("m2"))
        .select(col("ca"), sat4(col("m2")).as("rr2"))
      // coarse-quantize the centroids (cheap: one literal-plan pass over k
      // rows; cell QUALITY only affects pruning efficiency, never soundness)
      val cellAssign = fit(
        cs.select(col("c").cast("long").as("cid"), col("cv")),
        "cid", "cv", k = coarseCells, passes = 1, scope = pass).assignments
        .select(col("id").cast("int").as("c"), col("cluster").as("cell"))
      val withCell = cs.join(centroidSide(cellAssign), "c")
      val centers = updateCentroids(
          withCell.select(col("cell").as("cluster"), col("cv").as("v")))
        .select(col("c").as("cell"), col("cv").as("centerv"))
      val members = pass.track(withCell.join(centroidSide(centers), "cell")
        .select(col("cell"), col("c"), col("cv"),
          call_function("vec_l2sq", col("cv"), col("centerv")).as("dcen2")))
      val cells = members.groupBy("cell").agg(max(col("dcen2")).as("rcell2"))
        .join(centroidSide(centers), "cell")
      // probe: skip cell (center m, radius² r²) for ca only when
      // d²(ca, m) > 2·(R² + r²) ≥ (R + r)² ⇒ every member strictly beyond
      // R — integer-sound with factor-2 slack; any saturation keeps the cell
      val probed = cs.select(col("c").as("ca"), col("cv").as("va"))
        .join(centroidSide(rmax), "ca")
        .crossJoin(centroidSide(cells))
        .filter(
          when(col("rr2") > lit(Long.MaxValue / 2) - col("rcell2"), lit(true))
            .otherwise(call_function("vec_l2sq", col("va"), col("centerv"))
              <= lit(2L) * (col("rr2") + col("rcell2"))))
        .select(col("ca"), col("va"), col("rr2"), col("cell"))
      val pairs = pass.track(probed
        .join(members.select(col("cell"), col("c").as("cb"), col("cv").as("vb")), "cell")
        .select(col("ca"), col("cb"), col("rr2"),
          call_function("vec_l2sq", col("va"), col("vb")).as("dcc2"))
        .filter(col("dcc2") <= col("rr2"))
        .select(col("ca"), col("cb"), col("dcc2")))
      // Catalyst sizes this crossJoin-descended plan as a product estimate
      // (the 154 TB-for-64-rows phenomenon), so maybeBroadcast would never
      // fire and the candidate join would shuffle all N upper-bound rows —
      // the exact cost the pruned plan exists to avoid. The table is
      // persisted (every vector's candidate join reads it), so MEASURE it:
      // broadcast when the real size fits; beyond that a pair table too
      // big for executors' memory legitimately shuffle-joins by ca
      if (pairs.count() * 24L <= graft.queries.Broadcasting.DefaultThresholdBytes)
        broadcast(pairs)
      else pairs
    }

    var prev: Option[DataFrame] = None
    def assign(cs: DataFrame): DataFrame = {
      // pruned runs read each assignment TWICE (centroid update + next
      // pass's candidate generation) and embed it, with the centroids, in
      // three joins of the next pass — a persisted frame keeps its whole
      // plan, so the plan would multiply ~5× per pass. Checkpoint instead
      // (eager, scope-owned): every pass starts from a leaf. The exact
      // path reads each assignment once and its plan grows linearly, so it
      // stays lazy
      val out = prev match {
        case Some(p) if prune =>
          // the coarse path's persisted upper bounds, cells and pair table
          // are dead once the checkpoint holds the assignment
          val pass = new CacheScope
          try scope.checkpoint(assignPruned(cs, p, pass)) finally pass.release()
        case _ if prune => scope.checkpoint(assignExact(cs))
        case _ => assignExact(cs)
      }
      // the superseded checkpoint's blocks go now, not at scope release:
      // one pass's assignment is held at a time, not `passes` of them
      prev.foreach(CacheScope.freeCheckpoint)
      prev = Some(out)
      out
    }

    for (_ <- 1 until passes) {
      val updated =
        updateCentroids(assign(cents)).select(col("c").cast("int").as("c"), col("cv"))
      val next = if (prune) scope.checkpoint(updated) else scope.track(updated)
      CacheScope.freeCheckpoint(cents)
      cents = next
    }
    (assign(cents).drop("v"), cents.select(col("c"), col("cv").as("v")))
  }
}
