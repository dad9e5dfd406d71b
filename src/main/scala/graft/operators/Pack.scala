package graft.operators

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sequence packing: assign documents to fixed token-budget packs so a
  * training run wastes as little context as possible on padding. The
  * bin-packing itself is inherently sequential, so it runs greedily
  * WITHIN each partition (`mapPartitions`) — no shuffle, no
  * coordination: pack ids embed the partition id, so they are globally
  * unique without a barrier, and every partition packs in parallel.
  * Pack tightness depends on partition-local order; for tighter packs
  * range-partition by a length proxy upstream (short docs together
  * fill bins better). This is the standard distributed trade — an
  * optimal global packing would serialize the corpus.
  */
object Pack {

  /** Greedy sequential packing of (id, tokenCount) rows into bins of
    * `budget` tokens. Returns one row per document: (id, n_tokens,
    * pack_id). A document exceeding the budget gets its own pack
    * (training-side chunking decides what to do with it; packing must
    * not silently drop it). pack_id = partitionId << 33 | local bin —
    * the partition id in the upper 31 bits and the bin number in the
    * lower 33, the split Spark's monotonically_increasing_id uses, so
    * ids stay positive and collision-free for any partition count Spark
    * itself supports. The id must be an
    * integral column and a null token count packs as 0 tokens — both
    * checked/handled up front so a bad input fails the DRIVER with a
    * clear message, not an executor with an opaque NPE. */
  def greedyPack(
      docs: DataFrame,
      idCol: String,
      tokenCountCol: String,
      budget: Int): DataFrame = {
    require(budget > 0, "budget must be positive")
    val idOk = docs.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    require(idOk,
      s"greedyPack id column `$idCol` must be integral, found ${docs.schema(idCol).dataType}")
    require(docs.schema(tokenCountCol).dataType.isInstanceOf[NumericType],
      s"token count column `$tokenCountCol` must be numeric, found ${docs.schema(tokenCountCol).dataType}")
    val in = docs.select(
      col(idCol).cast("long").as("id"),
      coalesce(col(tokenCountCol).cast("long"), lit(0L)).as("n_tokens"))
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("n_tokens", LongType),
      StructField("pack_id", LongType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    in.mapPartitions { rows =>
      val pidBase = TaskContext.getPartitionId().toLong << 33
      var bin = 0L
      var used = 0L
      // non-empty flag, not used > 0: a zero-token doc opens the bin
      // too, so an oversized doc never shares a pack with it
      var open = false
      rows.map { r =>
        val n = r.getLong(1)
        if (open && used + n > budget) { bin += 1; used = 0; open = false }
        used += n
        open = true
        Row(r.getLong(0), n, pidBase | bin)
      }
    }(enc)
  }

  /** Length-bucketed batching report — the inference/training-batching
    * planner's view of a corpus: assign each document to the smallest
    * bucket boundary that fits its token count and report, per bucket,
    * how much context a bucket-padded batch run would waste. A batcher
    * that pads every sequence in a batch to the bucket top pays
    * `n_docs · bucket` tokens of context for `sum_tokens` of real
    * content; `padding_frac` is the wasted share, and a bucket list
    * that yields high waste in its fat buckets needs finer boundaries
    * there. Documents longer than the largest boundary land in an
    * overflow bucket of -1 (they need chunking, not padding — counted,
    * never silently dropped; their padding_frac is 0 by convention).
    *
    * Scale shape: the bucket id folds to a codegen'd integer
    * when-chain over the boundary list (boundaries are a config-sized
    * Seq, not data), so assignment is scan-local; the only exchange is
    * the partial-agg'd groupBy over ≤ |buckets|+1 keys. Exact integer
    * compares — no float log2 whose ulp at an exact power of two
    * could flip an engine's bucket choice. */
  def paddingStats(
      docs: DataFrame,
      tokenCountCol: String,
      buckets: Seq[Int]): DataFrame = {
    require(buckets.nonEmpty && buckets == buckets.sorted && buckets.head > 0,
      s"buckets $buckets must be a non-empty ascending list of positive boundaries")
    val n = coalesce(col(tokenCountCol).cast("long"), lit(0L))
    val bucket = buckets.foldRight(lit(-1L)) { (b, rest) =>
      when(n <= b, lit(b.toLong)).otherwise(rest)
    }
    docs.select(bucket.as("bucket"), n.as("__n"))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__n")).as("sum_tokens"))
      .withColumn("capacity",
        when(col("bucket") > 0, col("bucket") * col("n_docs")).otherwise(col("sum_tokens")))
      .withColumn("padding_frac",
        round(lit(1.0) - col("sum_tokens").cast("double") /
          greatest(col("capacity"), lit(1L)), 4))
  }
}
