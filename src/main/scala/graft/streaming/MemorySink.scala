package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The test/CI harness shared by the streams' `runToMemory`. */
private[streaming] object MemorySink {

  /** Run `transform` over `stream` into the in-memory table `name`,
    * processing all available input. */
  def run(stream: DataFrame, name: String, transform: DataFrame => DataFrame,
      mode: String): StreamingQuery =
    transform(stream).writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
}
