package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.BooleanType
import org.apache.spark.util.sketch.BloomFilter

/** Driver-built Bloom sketches probed scan-side — the membership
  * prefilter primitive. A 100 TB corpus never joins against a small
  * reference set (a benchmark suite's shingles, a blocklist) when a
  * broadcast sketch can answer "definitely absent" at the scan: the
  * expensive exact join then runs only on the tiny surviving fraction,
  * and the sketch's false positives cost recheck work, never
  * correctness (Bloom filters have no false negatives).
  */
object BloomKernels {

  /** True iff ANY element of `arr` (non-null longs) might be in `bf`.
    * Short-circuits on the first hit. */
  def anyContained(arr: ArrayData, bf: BloomFilter): Boolean = {
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (bf.mightContainLong(arr.getLong(i))) return true
      i += 1
    }
    false
  }
}

object BloomColumns {

  /** `array<long>` → boolean: does the Bloom sketch possibly contain
    * any element? The sketch rides the [[KernelCall]] as an object
    * argument (declared `BloomFilter`: its runtime class is not
    * public), so the probe is one hash per element inside whole-stage
    * codegen — no join, no shuffle, no broadcast exchange in the plan.
    * Input arrays must hold non-null longs (the shingle/signature hash
    * kernels guarantee that). */
  def anyContained(hashes: Column, bf: BloomFilter): Column =
    KernelCall.column("bloomanycontained", BloomKernels, "anyContained", BooleanType,
      Seq(hashes), Seq(KernelCall.payload(bf)))
}
