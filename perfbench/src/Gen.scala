package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded Kafka-shape record generator. Every random draw is a hash of
  * (seed, draw name, record id), so the same seed gives the same records
  * regardless of partitioning or core count.
  */
object Gen {
  private val TwoTo53 = 9007199254740992L

  /** Uniform draw in [0, 1) for the record in column `id`. */
  def uniform(seed: Long, draw: String): Column =
    pmod(xxhash64(lit(seed), lit(draw), col("id")), lit(TwoTo53)).cast("double") / TwoTo53.toDouble

  /** Kafka partition with Zipf(`s`) skew over `n` partitions; the heaviest
    * partition is picked by the seed.
    */
  def zipfPartition(seed: Long, n: Int, s: Double): Column = {
    val w = (1 to n).map(r => 1.0 / math.pow(r, s))
    val cum = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    val u = uniform(seed, "partition")
    val rank = cum.zipWithIndex.init.foldRight(lit(n - 1)) { case ((c, i), acc) =>
      when(u < c, lit(i)).otherwise(acc)
    }
    pmod(rank + lit(math.floorMod(seed, n.toLong).toInt), lit(n))
  }

  /** Payload body of a power-law width in [minW, maxW]: most bodies are
    * short, a few are long.
    */
  def body(seed: Long, minW: Int, maxW: Int): Column = {
    val width = (lit(minW) + floor(pow(uniform(seed, "width"), 3.0) * (maxW - minW))).cast("int")
    val unit = concat(hex(xxhash64(lit(seed), lit("body"), col("id"))), lit("-kafka-record-body-"))
    substring(repeat(unit, ((width / 34) + 1).cast("int")), lit(1), width)
  }

  /** `n` records: id, topic, partition, offset (dense per partition, from 0,
    * in id order) and body.
    */
  def records(spark: SparkSession, seed: Long, n: Long, partitions: Int, zipfS: Double,
              minW: Int, maxW: Int, topic: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("partition").orderBy("id")
    spark.range(n)
      .select(col("id"), zipfPartition(seed, partitions, zipfS).as("partition"),
        body(seed, minW, maxW).as("body"))
      .withColumn("offset", row_number().over(w) - 1L)
      .select(col("id"), lit(topic).as("topic"), col("partition"), col("offset"), col("body"))
  }

  /** Order-independent checksum of the given columns, safe from overflow. */
  def checksum(cols: Column*): Column = sum(pmod(xxhash64(cols: _*), lit(2147483647L)))
}
