package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sparse (COO) matrix algebra — the reference's one-pass MapReduce
  * matrix multiply (`Assignment 2/Part_2.pdf` p.1 Q1, MMDSv3 §2.3.10)
  * re-expressed as the relational identity it is: an equi-join on the
  * inner dimension plus a hash aggregation.
  *
  * The reference replicates each M-cell across output columns and each
  * N-cell across output rows inside hand-written mappers; Catalyst gets
  * the same co-location from the shuffle of the equi-join, with
  * map-side partial sums replacing the reducer's positional sort +
  * pairwise multiply (`Part_2.pdf` p.1 `reducer`).
  *
  * Scale notes: the join key is the inner dimension `j`. For tall-skinny
  * matrices (few distinct j, e.g. 64-dim embeddings) that key is
  * low-cardinality and the shuffle skews — AQE's skew-join splitting
  * handles moderate cases; for genuinely dense numerics prefer the
  * array-native formulation in [[SimilarityOps]] (zip_with dot products,
  * no explode). COO shines when the matrices are sparse — only nonzeros
  * are stored or shuffled, exactly the reference's "doesn't need to
  * store the zeros" design.
  */
object MatrixOps {

  /** M(i,j,v) × N(j,k,v) → P(i,k,v). Inputs are COO DataFrames with
    * exactly those column names.
    */
  def multiply(m: DataFrame, n: DataFrame): DataFrame = {
    val prod = m.alias("m").join(n.alias("n"), col("m.j") === col("n.j"))
    prod.groupBy(col("m.i").as("i"), col("n.k").as("k"))
      .agg(sum(col("m.v") * col("n.v")).as("v"))
      .select("i", "k", "v")
  }
}
