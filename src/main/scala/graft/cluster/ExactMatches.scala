package graft.cluster

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Post-hoc exact-match cluster merging (ref: SURVEY.md J5/J6/D9/D10 —
  * pgdedupe/exact_matches.py): rows agreeing on an exact column subset get
  * their clusters merged transitively, via an edge list + connected
  * components + relabel, replacing the reference's driver-side pandas DFS.
  */
object ExactMatches {

  /** Working-column names staged into the caller's frame by
    * [[mergeEdges]]/[[merge]]; a real caller column with one of these
    * names (Spark resolves case-insensitively by default) would make
    * the internal joins ambiguous mid-plan — refuse loudly instead.
    */
  private val Staged = Seq("id1", "id2", "cnt", "component")
  private def requireNoStagedCollision(df: DataFrame): Unit =
    Staged.foreach { n =>
      require(!df.columns.exists(_.equalsIgnoreCase(n)),
        s"input already has a column named $n (reserved by " +
          "ExactMatches' merge plan)")
    }

  /** Edge list of cluster-id pairs to merge (ref exact_matches.py:76-83):
    * for each exact-key group seen in >1 row, link every member's cluster
    * to the group's minimum cluster id; `id1 > id2` orients edges.
    */
  def mergeEdges(
      df: DataFrame,
      cols: Seq[String],
      clusterCol: String): DataFrame = {
    requireNoStagedCollision(df)
    val nonNull = cols.foldLeft(df)((d, c) => d.where(col(c).isNotNull))
    val groups = nonNull
      .groupBy(cols.map(col): _*)
      .agg(min(col(clusterCol)).as("id2"), count(lit(1)).as("cnt"))
      .where(col("cnt") > 1)
      .drop("cnt")
    nonNull
      .join(groups, cols)
      .where(col(clusterCol) > col("id2"))
      .select(col(clusterCol).as("id1"), col("id2"))
      .distinct()
  }

  /** Merge clusters over one exact column subset: returns `df` with
    * `clusterCol` rewritten to the transitive representative (min id per
    * connected component, matching the reference's `follow` traversal
    * + join-update, exact_matches.py:85-101 — immutable rewrite, J7).
    */
  def merge(df: DataFrame, cols: Seq[String], clusterCol: String,
      label: String = "exact-merge",
      smallEdgeCap: Long = 1000000L): DataFrame = {
    val edges = mergeEdges(df, cols, clusterCol)
    // `label` keys the kernel note: one per merge pass.
    val comps = ConnectedComponents.auto(edges, "id1", "id2",
      smallEdgeCap = smallEdgeCap, label = label)
      .withColumnRenamed("id", clusterCol)
    df.join(comps, Seq(clusterCol), "left_outer")
      .withColumn(clusterCol, coalesce(col("component"), col(clusterCol)))
      .drop("component")
  }
}
