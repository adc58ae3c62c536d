package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry

/** Facts the workload lists are derived from: for every catalog query,
  * the tables it reads (leaf file relations of the analyzed plans of
  * every query execution it starts, eager jobs inside `fn` included),
  * whether it carries an oracle, and its steady time (best of two passes)
  * on each of the given data directories.
  *
  * Usage: `perfbench.Select <out.json> <dataDir>...`.
  */
object Select {
  val Corpus = Set("documents", "embeddings")

  def main(args: Array[String]): Unit = {
    val dirs = args.drop(1).toSeq
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val read = mutable.Set[String]()
    def leaves(qe: QueryExecution): Unit = read.synchronized {
      qe.analyzed.foreach {
        case l: LogicalRelation => l.relation match {
          case r: HadoopFsRelation =>
            r.location.rootPaths.foreach(p => read += p.getName.stripSuffix(".parquet"))
          case _ =>
        }
        case _ =>
      }
    }
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = leaves(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = leaves(qe)
    })
    val mapper = new ObjectMapper()
    val out = mapper.createArrayNode()
    dirs.foreach(d => graft.engine.Tables.names.foreach(t =>
      if (new File(s"$d/$t.parquet").exists()) graft.engine.Tables.t(spark, d, t).count()))
    SparkEntry.catalog.sortBy(_.name).foreach { q =>
      val n = out.addObject().put("name", q.name).put("oracle", q.oracle.isDefined)
      val times = n.putArray("secs")
      try {
        read.synchronized(read.clear())
        // later directories (the scaled copies) only for corpus readers
        dirs.zipWithIndex.foreach { case (d, i) =>
          if (i == 0 || read.synchronized(read.exists(Select.Corpus))) {
          q.setup.foreach(_(spark, d))
          val best = (1 to 2).map { _ =>
            val t0 = System.nanoTime()
            val df = q.fn(spark, d)
            leaves(df.queryExecution)
            df.write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }.min
          times.add(best)
          }
        }
        Thread.sleep(200) // listener delivery is asynchronous
        val t = n.putArray("tables")
        read.synchronized(read.toSeq.sorted).foreach(t.add)
      } catch {
        case e: Throwable => n.put("error", String.valueOf(e.getMessage).take(200))
      }
      System.err.println(s"[select] ${q.name} $n")
    }
    Files.writeString(Paths.get(args(0)), mapper.writeValueAsString(out))
    spark.stop()
  }
}
