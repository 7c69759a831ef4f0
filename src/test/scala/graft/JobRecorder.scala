package graft

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener

/** Every job started (id, description, stage names, stage details) and
  * every query execution finished while installed, with the file roots
  * each query read. */
final class JobRecorder extends SparkListener with QueryExecutionListener {
  val jobs = ArrayBuffer.empty[(Int, String, String, String)]
  val queries = ArrayBuffer.empty[QueryExecution]
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    jobs += ((e.jobId, desc, e.stageInfos.map(_.name).distinct.mkString(","),
      e.stageInfos.map(_.details).mkString("\n")))
  }
  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = synchronized {
    queries += qe
  }
  override def onFailure(funcName: String, qe: QueryExecution,
                         e: Exception): Unit = ()

  def scanned: Seq[String] = queries.toSeq.flatMap(_.analyzed
    .collectWithSubqueries { case lr: LogicalRelation => lr.relation }
    .collect { case h: HadoopFsRelation => h.location.rootPaths }
    .flatten.map(_.toString))

  /** Jobs whose stages were created from a `DataFrameReader.parquet`
    * call: schema inference from Parquet footers. */
  def footerJobs: Seq[(Int, String, String, String)] =
    jobs.toSeq.filter(_._4.contains("DataFrameReader.parquet"))

  def listing: String =
    jobs.map { case (id, d, site, _) => s"$id $d [$site]" }.mkString("; ")
}

object JobRecorder {
  /** Runs `f` with a recorder installed; every event it caused is
    * delivered before the recorder comes off. */
  def recorded[T](spark: SparkSession)(f: => T): (T, JobRecorder) = {
    val rec = new JobRecorder
    ListenerBusAccess.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
    try {
      val t = f
      ListenerBusAccess.drain(spark.sparkContext)
      (t, rec)
    } finally {
      spark.sparkContext.removeSparkListener(rec)
      spark.listenerManager.unregister(rec)
    }
  }
}
