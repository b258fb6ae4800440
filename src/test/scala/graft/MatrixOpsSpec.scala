package graft

import graft.operators.MatrixOps

class MatrixOpsSpec extends SparkSpec {
  import spark.implicits._

  test("golden 2x2 multiply from the reference (M=[[2,1],[6,3]], N=[[5,11],[0,1]])") {
    val m = Seq((0L, 0L, 2.0), (0L, 1L, 1.0), (1L, 0L, 6.0), (1L, 1L, 3.0)).toDF("i", "j", "v")
    val n = Seq((0L, 0L, 5.0), (0L, 1L, 11.0), (1L, 1L, 1.0)).toDF("j", "k", "v")
    val got = MatrixOps.multiply(m, n).as[(Long, Long, Double)].collect().toSet
    // [[2,1],[6,3]] x [[5,11],[0,1]] = [[10,23],[30,69]]
    assert(got == Set((0L, 0L, 10.0), (0L, 1L, 23.0), (1L, 0L, 30.0), (1L, 1L, 69.0)))
  }

  test("sparse semantics: absent cells contribute nothing (no explicit zeros)") {
    val m = Seq((0L, 0L, 2.0)).toDF("i", "j", "v")            // 1x2 with one zero cell
    val n = Seq((1L, 0L, 7.0)).toDF("j", "k", "v")            // only j=1 present
    assert(MatrixOps.multiply(m, n).count() == 0)              // inner dim never matches
  }
}
