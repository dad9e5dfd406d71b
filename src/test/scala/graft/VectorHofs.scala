package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.{VectorFunctions => VF}

/** The higher-order-function formulations of two native vector
  * kernels ([[graft.plans.VectorKernels]]), kept as references: the
  * specs check that the kernels equal them bit for bit. Their lambdas
  * run interpreted, so nothing outside the specs calls them. */
object VectorHofs {

  /** Bit p = 1 iff dot(v, planes(p)) >= 0, folded per plane. */
  def hyperplaneBits(v: Column, planes: Array[Array[Double]]): Column = {
    val bitCols = planes.map { plane =>
      val planeCol = array(plane.toIndexedSeq.map(lit): _*)
      when(VF.dot(v, planeCol) >= 0, lit(1)).otherwise(lit(0))
    }
    array(bitCols.toIndexedSeq: _*)
  }

  /** floor(x · 127 / max|x| + 0.5) per element; zeros for a zero
    * vector. */
  def int8Quantize(v: Column): Column = {
    val vd = transform(v, x => x.cast("double"))
    val ma = VF.maxAbs(v)
    when(ma > 0,
      transform(vd, x => floor(x * (lit(127.0) / ma) + 0.5).cast("long")))
      .otherwise(transform(vd, _ => lit(0L)))
  }
}
