package graft

import org.apache.spark.sql.streaming.OutputMode
import graft.sources.Shards

/** Round-9 part-9 query: STREAMED archive-shard ingestion — m18's tar
  * expansion run as a Structured Streaming query, because that is how
  * a 100-TB multimodal corpus actually arrives: shards land in object
  * storage and the ingest job tails the directory. The `binaryFile`
  * format works as a file-stream source (one micro-batch row per
  * shard), [[graft.sources.Shards.tarMembers]] is stateless row
  * expansion so it runs unchanged on the streaming frame, and the
  * append-mode sink accumulates members exactly once. Declared against
  * m18's IDENTICAL oracle: the hash match proves the streamed
  * expansion yields byte-for-byte the batch result — the ingestion
  * path commutes with micro-batching (member rows are a pure function
  * of their shard row). Oracle-parity conventions follow [[Queries]]'
  * scaladoc.
  */
object Queries90 {
  import Queries.Q

  val sparkQueries: Map[String, Q] = Map(
    "e40_stream_shards" -> ((s, d) => {
      val work = Queries88.writeShards(s, d, "tar", Shards.tarShard)
      val ckpt = Scratch.fresh("e40_ckpt", d)
      val sink = s"graft_e40_sink_${System.nanoTime}"
      // binaryFile's fixed schema, stated explicitly (file-stream
      // sources refuse to infer)
      val binarySchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("path",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("modificationTime",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("length",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("content",
          org.apache.spark.sql.types.BinaryType)))
      val src = s.readStream.format("binaryFile")
        .schema(binarySchema)
        .option("pathGlobFilter", "*.tar")
        // a couple of shards per micro-batch: the expansion must
        // prove itself ACROSS batch boundaries, not in one batch
        .option("maxFilesPerTrigger", "8")
        .load(work)
      Queries88.memberReport(graft.streaming.Streams.runToMemory(
        Shards.tarMembers(src), OutputMode.Append(), sink, ckpt), "tar")
    }))

  val oracleSql: Map[String, String] = Map(
    // streamed expansion must equal the batch expansion exactly —
    // m18's oracle, verbatim
    "e40_stream_shards" -> Queries88.shardOracle)
}
