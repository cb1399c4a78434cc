package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Two-level (hierarchical) coarse quantization — the production
  * cluster-assignment path for SemDeDup and IVF list builds.
  *
  * The flat assignment (every vector × every centroid) is O(n·k); when
  * k grows with the corpus (the SemDeDup/IVF deployment shape — per-
  * cluster size held constant, so k ∝ n) that is super-linear and was
  * the repo's one measured scale-killer (SCALE.md 100× table: ~190×
  * wall for 100× data). The fix: centroids (and vectors) first assign
  * to ~√k SUPER-centroids, then each vector compares only against the
  * centroids sharing its super bucket — O(n·√k) comparisons.
  *
  * Spark shape: both levels are broadcast joins (supers are √k rows,
  * the per-super centroid lists are k rows total), and the per-vector
  * argmax is a `max_by` partial aggregation that collapses the
  * candidate fan-out MAP-SIDE before any shuffle — the corpus is never
  * shuffled at all; the only exchange is the final n-row group-by,
  * pre-collapsed to one row per vector by the partial agg.
  *
  * Reference anchor: SemDeDup (Abbas et al. 2023) clusters with k ∝
  * corpus and dedups within clusters; IVF coarse quantization is the
  * same assignment problem (Johnson et al. 2017, billion-scale FAISS).
  */
object Ann {

  /** Assignment cosines round to 6 decimals before the argmax on BOTH
    * engines (Spark here, DuckDB in the oracle) so an accumulation-
    * order ulp can never flip a cluster choice.
    */
  private def cos6(a: Column, b: Column): Column =
    round(graft.functions.GraftFunctions.cosine_sim(a, b), 6)

  /** In-row argmax over a list of (`id`, `c`) structs: the `id` of the
    * element with max score `c`, ties → lowest id — the exact total
    * order `max_by(id, struct(c, -id))` ranked by, as a fold. Spark
    * orders NaN above every number and equal to itself, so the order
    * stays total with NaN scores (a NaN wins, lowest id among NaNs) and
    * the result is independent of list order. The argmax runs where
    * the row already is: no candidate fan-out rows, no groupBy Exchange
    * (an AQE job per assignment level), and no SortAggregate demotion
    * from the struct/array aggregation buffers the r19 audit flagged.
    */
  private[graft] def argmaxBy(scored: Column, id: String): Column =
    aggregate(scored, element_at(scored, 1),
      (acc, x) => when(
        x.getField("c") > acc.getField("c") ||
          (x.getField("c") === acc.getField("c") &&
            x.getField(id) < acc.getField(id)), x).otherwise(acc),
      acc => acc.getField(id))

  private def scoredAgainst(vecCol: String): Column =
    transform(col("__refs"), r => struct(
      r.getField("rid").as("rid"), cos6(col(vecCol), r.getField("rv")).as("c")))

  /** Best reference for each row of `df` by max cosine (ties → lowest
    * reference id). `refs` must be broadcast-sized with columns
    * (rid, rv); the result keeps all of `df`'s columns plus the chosen
    * reference id as `outCol`. The reference set broadcasts as ONE
    * array row and the argmax folds in-row, so `df` neither fans out
    * nor shuffles. An empty `refs` assigns nothing: the one-row
    * aggregate is dropped before the cross join, so no row comes back.
    */
  private[graft] def assignBest(df: DataFrame, idCol: String, vecCol: String,
      refs: DataFrame, outCol: String): DataFrame =
    df.crossJoin(broadcast(
        refs.agg(collect_list(struct(col("rid"), col("rv"))).as("__refs"))
          .filter(size(col("__refs")) > 0)))
      .withColumn("__scored", scoredAgainst(vecCol))
      .withColumn(outCol, argmaxBy(col("__scored"), "rid"))
      .drop("__refs", "__scored")

  /** Two-level coarse assignment: returns `vecs` plus a `cid` column
    * naming each vector's centroid. `vecs` = (idCol, vecCol, ...);
    * `cents` = (cid, cv). Centroid count k is read once (k rows — a
    * centroid table is always driver-small even when k ∝ corpus /
    * cluster-size-bounded); super-centroids are every ⌈√k⌉-th centroid
    * by cid rank.
    */
  def hierAssign(vecs: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame): DataFrame = {
    // super selection is one 1-row aggregate over the k-row centroid
    // table (centroid-table sized, never corpus-sized): the sorted cid
    // array yields k and the ⌈√k⌉ stride in the same pass, and an
    // indexed array filter picks every stride-th cid — no
    // unpartitioned WindowExec, no separate .count() job
    val sel = cents
      .agg(sort_array(collect_list(col("cid"))).as("cids"))
      .select(explode(expr(
        "filter(cids, (c, i) -> i % greatest(1, " +
          "CAST(round(sqrt(size(cids))) AS INT)) = 0)")).as("cid"))
    val supers = cents.join(broadcast(sel), Seq("cid"))
      .select(col("cid").as("rid"), col("cv").as("rv"))
    // level 1: centroids and vectors each pick their super bucket
    val centsS = assignBest(cents, "cid", "cv", supers, "sid")
    val vecsS = assignBest(vecs, idCol, vecCol, supers, "sid")
    // level 2: equi-join on the super id against the BROADCAST per-
    // super candidate lists (k rows grouped to √k array rows), then
    // the same in-row argmax — the corpus still never shuffles, and
    // the per-vector groupBy Exchange of the fan-out form is gone
    val bucketed = centsS.groupBy(col("sid"))
      .agg(collect_list(struct(col("cid").as("rid"), col("cv").as("rv")))
        .as("__refs"))
    vecsS
      .join(broadcast(bucketed), Seq("sid"))
      .withColumn("__scored", scoredAgainst(vecCol))
      .withColumn("cid", argmaxBy(col("__scored"), "rid"))
      .drop("sid", "__refs", "__scored")
  }

  /** SemDeDup over a pre-assigned corpus: within-cluster pairs above
    * the similarity threshold become dedup decisions (keep the lower
    * vec_id). The self-join shuffles on cluster id only — the pair
    * space is bounded per cluster, never all-pairs.
    *
    * `vecs` = (vec_id, v: array&lt;double&gt;); `cents` = (cid, cv).
    */
  def semDedupHier(vecs: DataFrame, cents: DataFrame,
      threshold: Double): DataFrame = {
    val assigned = hierAssign(vecs, "vec_id", "v", cents)
    val a = assigned.select(col("cid"), col("vec_id").as("keep_id"),
      col("v").as("va"))
    val b = assigned.select(col("cid"), col("vec_id").as("drop_id"),
      col("v").as("vb"))
    a.join(b, Seq("cid"))
      .filter(col("keep_id") < col("drop_id"))
      .select(col("cid").as("cluster"), col("keep_id"), col("drop_id"),
        round(graft.functions.GraftFunctions.cosine_sim(col("va"), col("vb")), 6)
          .as("sim"))
      .filter(col("sim") >= threshold)
  }
}
