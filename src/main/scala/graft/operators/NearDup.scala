package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The near-duplicate core: each decision the text, band and embedding
  * dedup share, once ([[Dedup]], [[Similarity]] name callers). Nothing
  * here seams: seams stay where measured; callers keep their own CC.
  */
private[operators] object NearDup {

  /** `(key, survivor = min id, n_copies)` per `key` group. */
  def survivorFold(df: DataFrame, key: Column, idCol: String): DataFrame =
    df.groupBy(key)
      .agg(min(col(idCol)).as("survivor"), count(lit(1)).as("n_copies"))

  /** Per `keys` group its min-`idCol` row, projected to `cols` by
    * `min_by(struct(cols), id)`, or without `cols` the keys and bare
    * `min(id)`; plus `n_members`. NOT a key-partitioned window: the
    * hottest duplicate group (boilerplate) is the hottest key and would
    * pin one task; the aggregate partial-combines map-side, bounding the
    * shuffle by distinct contents. Deterministic iff ids are unique.
    */
  def collapse(df: DataFrame, idCol: String, keys: Seq[String],
               cols: Seq[String] = Nil): DataFrame = {
    val (rep, out) =
      if (cols.isEmpty) (min(col(idCol)).as(idCol), (keys :+ idCol).map(col))
      else (min_by(struct(cols.map(col): _*), col(idCol)).as("__rep"),
        cols.map(c => col("__rep." + c)))
    df.groupBy(keys.map(col): _*)
      .agg(rep, count(lit(1)).as("n_members"))
      .select(out :+ col("n_members"): _*)
  }

  /** `pairs` with [[collapse]]'d `reps`' `n_members` re-attached to both
    * ends (end column → count column), appended after `pairs`' columns:
    * two keyed joins on the collapsed id set, free to broadcast.
    */
  def withMembers(pairs: DataFrame, reps: DataFrame, idCol: String,
                  a: (String, String), b: (String, String)): DataFrame = {
    val members = reps.select(col(idCol), col("n_members"))
    Seq(a, b).foldLeft(pairs) { case (df, (end, n)) =>
      df.join(members.select(col(idCol).as(end), col("n_members").as(n)), end)
    }.select(pairs.columns.map(col) ++ Seq(col(a._2), col(b._2)): _*)
  }

  /** Every pair of `rows` equal on `block`, once, lower `idCol` as `x`,
    * kept where `verify` (over aliases `x`, `y`) holds; the id order is
    * tested first, so a costly `verify` runs once per pair.
    */
  def blockedSelfJoin(rows: DataFrame, idCol: String, block: Seq[String],
                      verify: Column = lit(true)): DataFrame =
    rows.as("x").join(rows.as("y"),
      block.map(c => col(s"x.$c") === col(s"y.$c")).reduce(_ && _) &&
        col(s"x.$idCol") < col(s"y.$idCol") && verify)

  /** `rows` plus each one's `survivor` from the CC labelling `cc`
    * (doc_id, cluster): its component's min id, itself when in no pair;
    * `cc`'s id is renamed, since the curation daemon's `idCol` is doc_id.
    */
  def clusterSurvivors(rows: DataFrame, idCol: String, cc: DataFrame): DataFrame =
    rows.join(cc.select(col("doc_id").as("__cc_id"), col("cluster")),
        col(idCol) === col("__cc_id"), "left")
      .select(rows.columns.map(col) :+
        coalesce(col("cluster"), col(idCol)).as("survivor"): _*)

  /** The keep rule: a row is kept iff it is its own survivor. */
  def isSurvivor(id: Column, survivor: Column): Column = survivor === id
}
