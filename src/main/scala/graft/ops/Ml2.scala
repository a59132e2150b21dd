package graft.ops

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-15 continuation: density-based clustering. */
object Ml2 {

  /** L380 — grid-bucketed DBSCAN over the 2-d embedding projection
    * (Ester, Kriegel, Sander & Xu KDD 1996; the grid-cell candidate
    * generation is the standard distributed form — Gunawan 2013's
    * grid DBSCAN, the shape RP-DBSCAN/NG-DBSCAN scale out — and the
    * one clustering family the suite lacked: k-means (L86) needs k
    * and carves convex cells, DBSCAN discovers cluster COUNT and
    * SHAPE from density and is what embedding-space dedup/outlier
    * triage actually runs). Cells of side ε are the shuffle key: a
    * point's ε-neighbors live in its 3×3 cell neighborhood BY
    * CONSTRUCTION (any pair within ε is within one cell step on both
    * axes), so candidate pairs are equi-join collisions —
    * density-proportional, never all-pairs, the banding discipline of
    * the dedup family pointed at geometry. Exact parity: both engines
    * read the same float32 coords, cast to the same doubles, square
    * the same IEEE differences and compare to the same `0.02 * 0.02`
    * literal — no rounding anywhere; degrees and labels are integers.
    * Roles: core ⟺ |N_ε| ≥ minPts (count includes the point itself —
    * the paper's convention); border = non-core with a core ε-neighbor
    * (assigned its MIN core-neighbor's cluster — the deterministic
    * form of the paper's "first reached wins"); rest = noise. Cluster
    * ids = min core member, via the shared hybrid union-find/Pregel
    * [[Llm3.componentLabelsDf]] over core-core ε-edges (driver
    * union-find under 500k edges, pointer-doubling label propagation
    * above — the 100 TB path is the same O(log diameter) loop the
    * dedup-cluster family ships). ε=0.02/minPts=6 are fixture-measured
    * to exercise every role: 109 core / 94 border / 297 noise across
    * 14 clusters (a grid too coarse collapses to one component — the
    * ε=0.03 scan measured exactly that). */
  def dbscanGrid(spark: SparkSession, dir: String): DataFrame = {
    val pts = embeddings(spark, dir).select(col("vec_id"),
      col("embedding")(0).cast("double").as("x"),
      col("embedding")(1).cast("double").as("y"))
    dbscanAt(spark, pts, eps = 0.02, minPts = 6)
  }

  /** DBSCAN kernel over a (vec_id, x, y) frame — shared by the
    * registered query and the planted-geometry spec legs. */
  private[graft] def dbscanAt(spark: SparkSession, pts: DataFrame,
      eps: Double, minPts: Int): DataFrame = {
    val eps2 = lit(eps) * lit(eps)
    val cell = pts
      .withColumn("cx", floor(col("x") / eps).cast("long"))
      .withColumn("cy", floor(col("y") / eps).cast("long"))
    val nineCells: Column = array(
      (for (dx <- -1 to 1; dy <- -1 to 1) yield
        struct((col("cx") + dx).as("ncx"), (col("cy") + dy).as("ncy"))): _*)
    val probes = cell.select(col("vec_id").as("a"), col("x").as("ax"),
        col("y").as("ay"), explode(nineCells).as("nc"))
      .select(col("a"), col("ax"), col("ay"),
        col("nc.ncx").as("ncx"), col("nc.ncy").as("ncy"))
    // directed ε-pairs: each unordered pair appears once per direction
    // (b is in a's 3×3 neighborhood ⟺ a is in b's)
    val pairs = probes.join(cell,
        col("ncx") === col("cx") && col("ncy") === col("cy"))
      .where(col("a") =!= col("vec_id") &&
        (col("ax") - col("x")) * (col("ax") - col("x")) +
        (col("ay") - col("y")) * (col("ay") - col("y")) <= eps2)
      .select(col("a"), col("vec_id").as("b"))
    val deg = pts.select(col("vec_id"))
      .join(pairs.groupBy(col("a")).agg(count(lit(1)).as("n")),
        col("vec_id") === col("a"), "left")
      .select(col("vec_id"), coalesce(col("n"), lit(0L)).as("n_neighbors"))
    val core = deg.where(col("n_neighbors") + 1 >= minPts)
      .select(col("vec_id"))
    val coreEdges = pairs
      .join(core.select(col("vec_id").as("ca")), col("a") === col("ca"))
      .join(core.select(col("vec_id").as("cb")), col("b") === col("cb"))
      .where(col("a") < col("b"))
      .select(col("a").as("d1"), col("b").as("d2"))
    val coreLab = core
      .join(Llm3.componentLabelsDf(spark, coreEdges),
        col("vec_id") === col("node"), "left")
      .select(col("vec_id"),
        coalesce(col("label"), col("vec_id")).as("clab"))
    // coreLab holds only core rows, so joining it on b filters to
    // core neighbors for free; the anti-join drops core a's
    val borderLab = pairs
      .join(coreLab.select(col("vec_id").as("cb"), col("clab")),
        col("b") === col("cb"))
      .join(core.select(col("vec_id").as("ca2")), col("a") === col("ca2"),
        "left_anti")
      .groupBy(col("a")).agg(min(col("clab")).as("blab"))
    deg
      .join(coreLab, Seq("vec_id"), "left")
      .join(borderLab, col("vec_id") === col("a"), "left")
      .select(col("vec_id"), col("n_neighbors"),
        when(col("clab").isNotNull, lit("core"))
          .when(col("blab").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("clab"), col("blab"), lit(-1L)).as("cluster"))
      .orderBy("vec_id")
  }

  val entries: Map[String, Op] = Map(
    // Brute-force ε-pairs (oracle side only — grid ≡ brute force is a
    // THEOREM: any pair within ε is within one cell step on both axes)
    // and transitive closure over core-core edges for the cluster ids.
    "ml_dbscan_grid" -> Op(dbscanGrid,
      """WITH RECURSIVE pts AS (SELECT vec_id,
             CAST(embedding[1] AS DOUBLE) AS x,
             CAST(embedding[2] AS DOUBLE) AS y
           FROM embeddings),
         prs AS (SELECT p.vec_id AS a, q.vec_id AS b
           FROM pts p JOIN pts q ON p.vec_id <> q.vec_id
             AND (p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y)
               <= 0.02 * 0.02),
         deg AS (SELECT p.vec_id,
             CAST(COALESCE(d.n, 0) AS BIGINT) AS n_neighbors
           FROM pts p LEFT JOIN (SELECT a, COUNT(*) AS n FROM prs
             GROUP BY 1) d ON p.vec_id = d.a),
         core AS (SELECT vec_id FROM deg WHERE n_neighbors + 1 >= 6),
         ce AS (SELECT p.a AS d1, p.b AS d2 FROM prs p
           JOIN core c1 ON p.a = c1.vec_id
           JOIN core c2 ON p.b = c2.vec_id
           WHERE p.a < p.b),
         und AS (SELECT d1, d2 FROM ce
           UNION SELECT d2 AS d1, d1 AS d2 FROM ce),
         reach(n, r) AS (SELECT d1, d2 FROM und
           UNION SELECT rc.n, u.d2 FROM reach rc JOIN und u ON rc.r = u.d1),
         clab AS (SELECT c.vec_id,
             LEAST(c.vec_id, COALESCE(MIN(rc.r), c.vec_id)) AS clab
           FROM core c LEFT JOIN reach rc ON rc.n = c.vec_id
           GROUP BY c.vec_id),
         blab AS (SELECT p.a AS vec_id, MIN(cl.clab) AS blab
           FROM prs p JOIN clab cl ON p.b = cl.vec_id
           WHERE p.a NOT IN (SELECT vec_id FROM core)
           GROUP BY 1)
         SELECT d.vec_id, d.n_neighbors,
           CASE WHEN cl.vec_id IS NOT NULL THEN 'core'
             WHEN bl.vec_id IS NOT NULL THEN 'border'
             ELSE 'noise' END AS role,
           CAST(COALESCE(cl.clab, bl.blab, -1) AS BIGINT) AS cluster
         FROM deg d
           LEFT JOIN clab cl ON d.vec_id = cl.vec_id
           LEFT JOIN blab bl ON d.vec_id = bl.vec_id
         ORDER BY d.vec_id"""),
  )
}
