package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** §2.D — Structured Streaming over the embedding feed (the vector
  * twin of [[DocStream]]): arriving vectors flow through the SAME
  * transforms the batch side uses, proven equal in `VecStreamSpec`.
  *
  * The s17 use case is the scatter step of a distributed ANN service:
  * each arriving query vector is routed to its nprobe cells against
  * the broadcast PERSISTED index centroids
  * ([[graft.operators.Similarity.annRoute]]) — stateless per-row, no
  * watermark, no state store, so backfill and live serving run the
  * same transform at scan cost.
  */
object VecStream {

  /** Parquet schema of the embeddings table. */
  val rawSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** File-source stream over a testdata dir (glob-filtered to the
    * embeddings table inside the sf dir). */
  def readVecsStream(s: SparkSession, dir: String): DataFrame =
    s.readStream.schema(rawSchema)
      .option("pathGlobFilter", "embeddings.parquet")
      .parquet(dir)

  /** Run `transform` over the vector stream into a memory sink. */
  def runToMemory(s: SparkSession, dir: String, name: String,
      transform: DataFrame => DataFrame, mode: String = "append"): StreamingQuery =
    MemorySink.run(readVecsStream(s, dir), name, transform, mode)
}
