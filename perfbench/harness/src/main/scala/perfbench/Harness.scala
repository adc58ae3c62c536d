package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.cli.Main
import graft.config.JobConfig
import graft.engine.{Functions, Tables}
import graft.pipeline.{PipelineConfig, PipelineRunner}
import graft.tools.ScaleGen

/** The benchmark's program-side half. Reads a JSON spec written by
  * `run.py`, builds the workload's session and fixtures, runs whole
  * rounds of the workload's ops until the time budget is spent, and
  * writes per-op times (plus, in a traced run, per-layer figures) to a
  * JSON result file. All correctness checks happen in `run.py` after
  * this process has exited.
  *
  * Usage: `perfbench.Harness <spec.json>`.
  */
object Harness {

  /** A timed op; `before` and `after` run untimed around it. */
  final case class Op(name: String, run: Int => Unit,
      before: Int => Unit = _ => (), after: Int => Unit = _ => ())
  final case class OpTime(id: Int, name: String, round: Int, t0Ms: Long, t1Ms: Long,
      secs: Double, ok: Boolean, error: String)

  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val spec = mapper.readTree(new File(args(0)))
    val workload = spec.get("workload").asText()
    val dataDir = spec.get("data_dir").asText()
    val runDir = spec.get("run_dir").asText()
    val seconds = spec.get("seconds").asDouble()
    val traced = spec.get("trace").asBoolean()
    val names = spec.get("ops").elements().asScala.map(_.asText()).toSeq
    val fileModule = spec.get("file_module").properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val out = mapper.createObjectNode()
    val trace = new Trace(fileModule)

    try {
      val ops: Seq[Op] = workload match {
        case "ingest" => ingestOps(spark, spec, runDir, out, trace)
        case _ => catalogOps(spark, spec, dataDir, runDir, names, trace, out)
      }
      // whole rounds until the budget is spent; a traced run alternates
      // untraced and traced rounds so it can report its own overhead, and
      // runs at least three: untraced, traced, untraced
      val times = mutable.ArrayBuffer[OpTime]()
      val tracedRounds = mutable.Set[Int]()
      val firstOpMs = System.currentTimeMillis()
      val start = System.nanoTime()
      var round = 0
      var opId = 0
      def elapsed = (System.nanoTime() - start) / 1e9
      while (round == 0 || elapsed < seconds || (traced && round < 3)) {
        val tracing = traced && round % 2 == 1
        if (tracing) {
          sc.addSparkListener(trace); spark.listenerManager.register(trace)
          tracedRounds += round
        }
        ops.foreach { op =>
          sc.setLocalProperty(Trace.OpKey, opId.toString)
          op.before(round)
          val t0Ms = System.currentTimeMillis()
          val t0 = System.nanoTime()
          val sp = trace.open(opId, op.name, "op")
          val err = try { op.run(round); "" }
            catch { case e: Throwable =>
              System.err.println(s"[perfbench] ${op.name} round $round failed: $e")
              String.valueOf(e.getMessage).take(300) }
          trace.close(sp)
          val secs = (System.nanoTime() - t0) / 1e9
          times += OpTime(opId, op.name, round, t0Ms, System.currentTimeMillis(),
            secs, err.isEmpty, err)
          op.after(round)
          opId += 1
        }
        if (tracing) {
          sc.removeSparkListener(trace); spark.listenerManager.unregister(trace)
        }
        // the ingest checks read the first and the last round's outputs only
        if (round >= 2) deleteTree(new File(s"$runDir/ingest/r${round - 1}"))
        round += 1
      }
      out.put("first_op_epoch_ms", firstOpMs)
      out.put("rounds", round)
      val arr = out.putArray("ops")
      times.foreach { t =>
        val n = arr.addObject()
        n.put("name", t.name); n.put("round", t.round); n.put("secs", t.secs)
        n.put("ok", t.ok); n.put("error", t.error)
      }
      if (traced) {
        // listener events are delivered asynchronously; let the bus drain
        Thread.sleep(1500)
        Layers.report(spark, spec, trace, times.toSeq, tracedRounds.toSet, cores,
          out, out.putObject("layers"), out.putArray("split"))
      }
      out.put("peak_rss_mb", peakRssMb())
    } finally {
      Files.writeString(Paths.get(spec.get("result").asText()),
        mapper.writerWithDefaultPrettyPrinter().writeValueAsString(out))
      spark.stop()
    }
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** The JVM's high-water resident set (`VmHWM`), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  // ------------------------------------------------------------------
  // catalog workloads: one op per query, timed from QueryDef.fn to the
  // end of Bench's action over its result
  // ------------------------------------------------------------------

  def catalogOps(spark: SparkSession, spec: JsonNode, dataDir: String, runDir: String,
      names: Seq[String], trace: Trace, out: ObjectNode): Seq[Op] = {
    val byName = SparkEntry.catalog.map(q => q.name -> q).toMap
    val defs = names.map(n => byName.getOrElse(n,
      throw new IllegalArgumentException(s"no catalog query '$n'")))
    val oracle = out.putObject("oracle")
    defs.foreach(q => q.oracle.foreach(sql => oracle.put(q.name, sql)))
    // the 10x copy: every table the workload reads, scaled by ScaleGen
    Option(spec.get("scale")).foreach { s =>
      val factor = s.get("factor").asInt()
      val src = s.get("src").asText()
      s.get("tables").elements().asScala.map(_.asText()).foreach { t =>
        val df = spark.read.parquet(s"$src/$t.parquet")
        val scaled = t match {
          case "documents" => ScaleGen.scaleDocuments(df, factor)
          case "embeddings" => ScaleGen.scaleEmbeddings(df, factor)
          case "events" => ScaleGen.scaleEvents(df, factor)
          case "orders" => ScaleGen.scaleOrders(df, factor)
          case "lineitem" => ScaleGen.scaleLineitem(df, factor)
          case _ => df
        }
        scaled.write.mode("overwrite").parquet(s"$dataDir/$t.parquet")
      }
    }
    // warm-up outside the timed region: session, footers, first codegen
    Tables.names.foreach { t =>
      if (new File(s"$dataDir/$t.parquet").exists())
        (if (t == "events") Tables.events(spark, dataDir) else Tables.t(spark, dataDir, t)).count()
    }
    defs.foreach(q => q.setup.foreach(su => su(spark, dataDir)))
    val sc = spark.sparkContext
    // The untimed first pass (Bench's pass 1) writes each result as
    // parquet for the oracle check and records its fingerprint; timed
    // rounds run Bench's action, a fingerprint of every output row, which
    // must match. First-execution cost lands in set-up.
    val expected = out.putObject("fingerprint_expected")
    val seen = out.putObject("fingerprints")
    sc.setLocalProperty(Trace.OpKey, "-1")
    defs.foreach { q =>
      val path = s"$runDir/out/${q.name}"
      q.fn(spark, dataDir).write.mode("overwrite").parquet(path)
      expected.put(q.name, fingerprint(spark.read.parquet(path)))
    }
    defs.map { q =>
      Op(q.name, round => {
        val op = sc.getLocalProperty(Trace.OpKey).toInt
        sc.setLocalProperty(Trace.PhaseKey, "build")
        val df = trace.span(op, "fn", "engine")(q.fn(spark, dataDir))
        sc.setLocalProperty(Trace.PhaseKey, "action")
        val fp = trace.span(op, "action", "engine")(fingerprint(df))
        sc.setLocalProperty(Trace.PhaseKey, null)
        Option(seen.get(q.name)).getOrElse(seen.putArray(q.name))
          .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode].add(fp)
      })
    }
  }

  /** Bench's action: bit_xor of xxhash64 over every output column, so the
    * whole result is computed; map-typed outputs, which cannot be hashed,
    * are hashed through their JSON form. */
  def fingerprint(df: DataFrame): String = {
    import org.apache.spark.sql.types._
    def hashable(t: DataType): Boolean = t match {
      case _: MapType => false
      case s: StructType => s.forall(f => hashable(f.dataType))
      case a: ArrayType => hashable(a.elementType)
      case _ => true
    }
    val row = if (df.schema.forall(f => hashable(f.dataType))) col("*") else to_json(struct(col("*")))
    val r = df.select(xxhash64(struct(row)).as("h")).agg(bit_xor(col("h")), count(lit(1))).head()
    s"${if (r.isNullAt(0)) 0L else r.getLong(0)}/${r.getLong(1)}"
  }

  // ------------------------------------------------------------------
  // ingest workload: ingest -> curate -> resume, fresh outputs per round
  // ------------------------------------------------------------------

  def ingestOps(spark: SparkSession, spec: JsonNode, runDir: String,
      out: ObjectNode, trace: Trace): Seq[Op] = {
    def op = Option(spark.sparkContext.getLocalProperty(Trace.OpKey)).map(_.toInt).getOrElse(-1)
    // `pipeline run` does not register the chemistry functions its own
    // stages call, so the benchmark registers them itself
    Functions.registerAll(spark)
    val mainCorpus = spec.get("corpus_dir").asText()
    val warmCorpus = spec.get("warm_corpus_dir").asText()
    val batchSize = spec.get("batch_size").asInt()
    val hconf = spark.sparkContext.hadoopConfiguration
    // round r writes under ingest/r<r>; the untimed warm-up round under
    // ingest/warm, over a small corpus with the same three sources
    def dirs(r: Int) = {
      val tag = if (r < 0) "warm" else s"r$r"
      (s"$runDir/ingest/$tag/out", s"$runDir/ingest/$tag/ckpt", s"$runDir/ingest/$tag/curated")
    }
    def jobYaml(r: Int) = {
      val (o, c, _) = dirs(r)
      val corpus = if (r < 0) warmCorpus else mainCorpus
      s"""job:
         |  output_dir: $o
         |  checkpoint_dir: $c
         |  batch_size: $batchSize
         |  concurrency: 3
         |  sources:
         |    - type: pubchem
         |      name: pubchem
         |      options:
         |        paths: $corpus/pubchem/*.sdf.gz
         |    - type: chembl
         |      name: chembl
         |      options:
         |        paths: $corpus/chembl/*.sdf
         |    - type: zinc
         |      name: zinc
         |      options:
         |        paths: $corpus/zinc/*.txt
         |        delimiter: whitespace
         |""".stripMargin
    }
    def pipelineYaml(r: Int) = {
      val (o, c, cur) = dirs(r)
      s"""pipeline:
         |  name: curate
         |  checkpoint_dir: $c
         |  stages:
         |    - name: raw
         |      type: scan
         |      format: json
         |      path: $o/*/*.jsonl.gz
         |    - name: annotated
         |      type: map
         |      input: raw
         |      columns:
         |        valid: is_valid_smiles(smiles)
         |        norm: normalize_smiles(smiles)
         |        mw: molecular_weight(normalize_smiles(smiles))
         |    - name: kept
         |      type: filter
         |      input: annotated
         |      condition: valid
         |    - name: dedup
         |      type: reduce
         |      input: kept
         |      group_by: [norm]
         |      aggs:
         |        n: count(*)
         |        n_sources: count(DISTINCT source)
         |        mw: min(mw)
         |      materialize: true
         |    - name: sink
         |      type: sink
         |      input: dedup
         |      format: parquet
         |      path: $cur
         |""".stripMargin
    }
    val rounds = out.putArray("ingest_rounds")
    val roundInfo = mutable.Map[Int, ObjectNode]()
    def info(r: Int) = roundInfo.getOrElseUpdate(r, rounds.addObject().put("round", r))
    def listing(r: Int): java.util.List[String] = {
      val root = Paths.get(dirs(r)._1).getParent
      Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => s"${root.relativize(p)} ${Files.size(p)}").toSeq.sorted.asJava
    }
    val ops = Seq(
      Op("ingest", r => {
        val res = trace.span(op, "runIngestion", "cli")(
          Main.runIngestion(spark, JobConfig.parse(jobYaml(r))))
        val n = info(r)
        n.put("records", res.map(_.recordsWritten).sum)
        n.put("batches", res.map(_.batchesWritten).sum)
      }, after = r => {
        val files = Files.walk(Paths.get(dirs(r)._1)).iterator().asScala
          .filter(p => p.toString.endsWith(".jsonl.gz")).toSeq
        info(r).put("sink_files", files.size).put("sink_bytes", files.map(Files.size(_)).sum)
      }),
      Op("curate", r => {
        val res = trace.span(op, "PipelineRunner.run", "pipeline")(
          PipelineRunner.run(spark, PipelineConfig.parse(pipelineYaml(r))))
        require(res.completed, "pipeline halted before all stages completed")
      }),
      Op("resume", r => {
        val res = trace.span(op, "runIngestion", "cli")(
          Main.runIngestion(spark, JobConfig.parse(jobYaml(r))))
        val p = trace.span(op, "PipelineRunner.run", "pipeline")(
          PipelineRunner.run(spark, PipelineConfig.parse(pipelineYaml(r)), resume = true))
        val n = info(r)
        n.put("resume_records", res.map(_.recordsWritten).sum)
        n.put("resume_actions", p.stages.map(s => s"${s.name}:${s.action}").mkString(","))
      },
        before = r => { val a = info(r).putArray("before_resume"); listing(r).forEach(a.add(_)) },
        after = r => { val a = info(r).putArray("after_resume"); listing(r).forEach(a.add(_)) }))
    ops.foreach(_.run(-1))
    roundInfo.clear(); rounds.removeAll()
    ops
  }
}
