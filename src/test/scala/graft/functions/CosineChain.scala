package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The Column chain the existential cosine screen is pinned against: a
  * broadcast join of the corpus on `cosine(v, ev) >= t`, with the
  * cosine as `dot(v, ev) / (sqrt(dot(v, v)) * sqrt(dot(ev, ev)))` — the
  * relational formulation the kernel replaced. Under ANSI mode a
  * zero-norm vector makes its division fail.
  */
object CosineChain {

  /** Ids of the `(id, v)` corpus rows with any `eval.v` cosine >= t. */
  def contaminated(corpus: DataFrame, eval: DataFrame, t: Double): Set[Long] = {
    val c = corpus.withColumn("nrm",
      GraftFunctions.graftDot(col("v"), col("v")))
    val e = eval.select(col("v").as("ev"))
      .withColumn("en", GraftFunctions.graftDot(col("ev"), col("ev")))
    c.join(broadcast(e),
        GraftFunctions.graftDot(col("v"), col("ev"))
          / (sqrt(col("nrm")) * sqrt(col("en"))) >= t)
      .select("id").distinct().collect().map(_.getLong(0)).toSet
  }
}
