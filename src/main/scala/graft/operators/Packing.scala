package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Token-budget shard packing for LLM training pipelines: assign each
  * document to a contiguous shard so every shard carries ≈ `budget`
  * tokens ("pack the corpus into 100M-token files, in a deterministic
  * order").
  *
  * Semantics (the SQL-mirrorable contiguous rule): order docs by the
  * key, take the running token total BEFORE each doc, and set
  * `shard = floor(prefix_total / budget)`. A document whose span crosses
  * a budget edge lands in the shard where it STARTS, so shards can
  * overflow by at most one document — the standard streaming-packer
  * contract (a never-overflow first-fit would be order-dependent and
  * unmirrorable), and every shard except the last holds ≥ budget −
  * (max doc tokens − 1).
  *
  * Scale shape — the [[graft.functions.DenseId]] two-pass prefix scheme,
  * NOT a global window (a single-partition `sum() over (order by …)` is
  * the driver-shaped bottleneck this operator exists to avoid):
  *   1. range-repartition + sort by the order key (one shuffle);
  *   2. per-partition token sums → driver prefix-scan (numPartitions
  *      longs, not rows);
  *   3. per-row local prefix + broadcast partition offset → shard id.
  * Deterministic in the order key alone: layout- and
  * parallelism-independent, so a re-run or a different cluster size
  * packs identically (same property the docID assignment needs).
  */
object Packing {

  /** Adds `shard` (0-based Long) to `df`. `tokenCol` must be a
    * non-negative numeric column; `orderCol` must be unique (ties would
    * make the prefix order ambiguous).
    */
  def assignShards(
      df: DataFrame,
      orderCol: String,
      tokenCol: String,
      budget: Long,
      numPartitions: Int = 200
  ): DataFrame = {
    require(budget > 0, "budget must be positive")
    val spark = df.sparkSession
    val n = df.schema.size
    val tokIdx = df.schema.fieldIndex(tokenCol)
    val sortedRdd = df
      .repartitionByRange(numPartitions, col(orderCol))
      .sortWithinPartitions(orderCol)
      .rdd // one lineage: the sum job's shuffle files serve the zip job
    val sums = sortedRdd
      .mapPartitionsWithIndex { case (pid, it) =>
        var s = 0L
        it.foreach { r =>
          val t = r.get(tokIdx) match {
            case l: Long => l
            case i: Int  => i.toLong
            case other   => throw new IllegalArgumentException(
              s"token column must be integral, got $other")
          }
          require(t >= 0, s"negative token count $t")
          s += t
        }
        Iterator((pid, s))
      }
      .collect() // ≤ numPartitions rows
      .sortBy(_._1)
    val offsets = sums.map(_._2).scanLeft(0L)(_ + _)
    val bOffsets = spark.sparkContext.broadcast(offsets)
    val b = budget
    val schema = df.schema.add("shard", org.apache.spark.sql.types.LongType, nullable = false)
    val rdd = sortedRdd.mapPartitionsWithIndex { case (pid, it) =>
      var prefix = bOffsets.value(pid) // tokens BEFORE the current doc
      it.map { row =>
        val arr = new Array[Any](n + 1)
        var j = 0
        while (j < n) { arr(j) = row.get(j); j += 1 }
        arr(n) = prefix / b
        prefix += (row.get(tokIdx) match {
          case l: Long => l
          case i: Int  => i.toLong
        })
        Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(arr))
      }
    }
    spark.createDataFrame(rdd, schema)
  }
}
