package graft.operators

import graft.Materialize._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Vectors

/** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
  * web-scale through semantic deduplication", 2023): embedding-space
  * dedup that only compares WITHIN coarse clusters — the trick that
  * makes semantic dedup tractable at corpus scale. Pairs across cells
  * are deliberately never examined (the quantizer's recall loss is the
  * accepted trade, exactly as in the paper; [[graft.queries.Retrieval]]'s
  * `q_semdedup_recall` measures that miss rate against the exact
  * all-pairs ground truth).
  *
  * A doc is DROPPED when some smaller-id doc in its cell has cosine ≥
  * theta to it — "keep the earliest" per epsilon-neighborhood, the
  * deterministic stand-in for the paper's keep-one-per-ball rule (note
  * this is per-NEIGHBOR, not per connected component: a chain a~b~c
  * with cos(a,c) < theta keeps only a, matching SemDeDup's greedy
  * behavior, not the component semantics of DedupCluster).
  *
  * Scale shape: the cell assignment is one broadcast-centroid argmax
  * scan (AnnIvf.assign); the candidate join is an equi-join on the cell
  * key, so pair count is Σ cell². That bound collapses toward n² when a
  * skewed embedding distribution dumps most of the corpus into one
  * coarse cell — so cells above `maxCell` get a SECONDARY key: `subBits`
  * md5-parity hyperplane sign bits of the vector (the AnnLsh exact-LSH
  * family, tag 99), splitting a giant diffuse cell into up to 2^subBits
  * angular wedges before the self-join. The refinement is a pure
  * function of the vector, so it is deterministic, oracle-replayable,
  * and costs one codegen'd projection — no extra shuffle. (A tight
  * near-identical ball keeps colliding by design: those vectors are
  * true near-dups and all but the earliest get dropped anyway.)
  * Reuses the stride-init deterministic quantizer (zero Lloyd passes ⇒
  * no float averaging ⇒ oracle-replayable cells).
  */
object SemDedup {

  /** Plane-table tag for the skew-split bits — outside AnnLsh's
    * 0..tables-1 namespace so guard bits never correlate with the LSH
    * tables' buckets. */
  private val SubPlaneTag = 99

  /** AnnIvf assignment plus the skew-guarded refined cell key `rk`:
    * `cid · 2^subBits`, plus the vector's hyperplane sub-key when the
    * cell holds more than `maxCell` vectors (`maxCell <= 0` disables
    * the guard). Output: (id, vec, cid, rk). */
  def assignedGuarded(embs: DataFrame, idCol: String, vecCol: String,
                      nlist: Int = 16, maxCell: Int = 0, subBits: Int = 4,
                      dim: Int = 64): DataFrame = {
    val centroids = AnnIvf.fitExact(embs, idCol, vecCol, nlist, iters = 0)
    // r18 (guide §3.3): every consumer pairs this frame with itself
    // (the cell-size rollup, nearDupPairs' self-join, kept's
    // anti-join, the recall query's double probe join) — without
    // materialization each side re-runs fit + assign over the corpus
    // (PlanAudit: 6-8 embeddings scans per query). The assignment is
    // the operator's natural once-materialized artifact (IndexedSearch
    // persists exactly this at serve time); checkpoint it eagerly —
    // the skew refinement below is then a broadcast join + codegen'd
    // projection per consumer over the materialized blocks. Values
    // unchanged.
    val a = AnnIvf.assign(embs, centroids, idCol, vecCol)
      .eagerCheckpoint()
    if (maxCell <= 0) a.withColumn("rk", col("cid"))
    else {
      // nlist rows — broadcast by construction
      val sizes = a.groupBy("cid").agg(count(lit(1)).as("_n"))
      val planes = AnnLsh.md5SignPlane(SubPlaneTag, subBits, dim)
      val subKey = element_at(graft.functions.NativeExpressions.hyperplaneBuckets(
        AnnLsh.quantized(col("vec")), Seq(planes)), 1)
      a.join(broadcast(sizes), "cid")
        .withColumn("rk", col("cid") * lit(1L << subBits) +
          when(col("_n") > maxCell, subKey).otherwise(lit(0L)))
        .drop("_n")
    }
  }

  /** Near-dup pairs (i < j, cosine ≥ theta) examined by the guarded
    * cell join — the operator's candidate-verify stage, exposed so the
    * recall query can intersect it with exact ground truth. */
  def nearDupPairs(assigned: DataFrame, theta: Double): DataFrame =
    assigned.as("x").join(assigned.as("y"),
        col("x.rk") === col("y.rk") && col("x.id") < col("y.id"))
      .filter(Vectors.cosine(col("x.vec"), col("y.vec")) >= theta)
      .select(col("x.id").as("i"), col("y.id").as("j"))

  /** (vec_id, cell) for every KEPT vector; `cell` is the coarse cid.
    *
    * r19: the guarded assignment and the cell self-join run over one
    * representative per bit-identical vector (ContentGroups) — verbatim
    * duplicates all land in one refined cell and square its self-join
    * (measured at sf1: 13.4 s of cosine task time squeezed onto 3
    * AQE-coalesced tasks). Cell sizes are weighted by group counts, so
    * the maxCell skew guard sees the TRUE sizes, and members are
    * decided arithmetically: j is dropped iff some same-cell candidate
    * i < j with cos ≥ theta exists, i.e. iff
    *   min(sid over qualifying OTHER groups) < j, or
    *   its own group self-qualifies (cos(v, v) ≥ theta — computed, not
    *   assumed, so any theta is honored bitwise) and j is not the
    *   group's minimum id. */
  def kept(embs: DataFrame, idCol: String, vecCol: String,
           nlist: Int = 16, theta: Double = 0.4,
           maxCell: Int = 0, subBits: Int = 4): DataFrame = {
    val dim = 64
    val mem = ContentGroups.members(
        embs.select(col(idCol).as("id"), col(vecCol).as("vec")), "vec")
      .eagerCheckpoint() // (id, sid, cnt, vec)
    val repsBase = ContentGroups.reps(mem)
    // centroids come from the FULL corpus (stride-init is a function of
    // every vec_id), only the assignment scan shrinks to the reps
    val centroids = AnnIvf.fitExact(embs, idCol, vecCol, nlist, iters = 0)
    val aR = AnnIvf.assign(repsBase.select(col("id"), col("vec")),
        centroids, "id", "vec")
      .join(repsBase.select(col("id"), col("cnt")), "id")
      .eagerCheckpoint() // (id, cid, vec, cnt): sizes + self-join + verdicts
    val rkR =
      if (maxCell <= 0) aR.withColumn("rk", col("cid"))
      else {
        // nlist rows — broadcast by construction; sizes are
        // member-WEIGHTED so the skew guard splits by true cell size
        val sizes = aR.groupBy("cid").agg(sum(col("cnt")).as("_n"))
        val planes = AnnLsh.md5SignPlane(SubPlaneTag, subBits, dim)
        val subKey = element_at(graft.functions.NativeExpressions.hyperplaneBuckets(
          AnnLsh.quantized(col("vec")), Seq(planes)), 1)
        aR.join(broadcast(sizes), "cid")
          .withColumn("rk", col("cid") * lit(1L << subBits) +
            when(col("_n") > maxCell, subKey).otherwise(lit(0L)))
          .drop("_n")
      }
    val rp = rkR.as("x").join(rkR.as("y"),
        col("x.rk") === col("y.rk") && col("x.id") < col("y.id"))
      .filter(Vectors.cosine(col("x.vec"), col("y.vec")) >= theta)
      .select(col("x.id").as("sa"), col("y.id").as("sb"))
    // per group: the smallest rep id among qualifying OTHER groups
    val minQual = rp.select(col("sb").as("sid"), col("sa").as("cand"))
      .unionByName(rp.select(col("sa").as("sid"), col("sb").as("cand")))
      .groupBy(col("sid")).agg(min(col("cand")).as("mq"))
    val selfQ = rkR.select(col("id").as("sid"), col("cid"),
      (Vectors.cosine(col("vec"), col("vec")) >= theta).as("selfq"))
    mem.select(col("id"), col("sid"))
      .join(selfQ, "sid")
      .join(minQual, Seq("sid"), "left")
      .filter(!(coalesce(col("mq") < col("id"), lit(false)) ||
        (col("selfq") && col("id") > col("sid"))))
      .select(col("id").as("vec_id"), col("cid").as("cell"))
  }
}
