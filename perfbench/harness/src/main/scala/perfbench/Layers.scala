package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.operators.Dedup
import graft.sources.SdfReader
import graft.streaming.EventStreams

/** Per-layer figures of a traced run. Every figure is computed per traced
  * round and the median over those rounds is reported, next to the
  * tracing overhead (median traced round minus median untraced round).
  */
object Layers {

  val Modules = Seq("operators", "streaming", "sinks", "pipeline", "cli")
  val Udfs = Seq("is_valid_smiles", "normalize_smiles", "molecular_weight",
    "lipinski_ok", "morgan_fp")
  private val MB = 1024.0 * 1024.0

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private def dirBytes(dir: String): Long =
    if (!new File(dir).exists()) 0L
    else Files.walk(Paths.get(dir)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size(_)).sum

  def report(spark: SparkSession, spec: JsonNode, trace: Trace,
      times: Seq[Harness.OpTime], traced: Set[Int], cores: Int,
      result: ObjectNode, out: ObjectNode, split: ArrayNode): Unit = {
    val workload = spec.get("workload").asText()
    val ingest = workload == "ingest"
    val rounds = result.get("ingest_rounds")
    def roundInfo(r: Int): Option[JsonNode] = Option(rounds).flatMap(
      _.elements().asScala.find(_.get("round").asInt() == r))
    val inputBytes =
      if (ingest) dirBytes(spec.get("corpus_dir").asText())
      else dirBytes(spec.get("data_dir").asText())

    val perRound: Seq[Map[String, Double]] = traced.toSeq.sorted.map { r =>
      val ops = times.filter(_.round == r)
      val ids = ops.map(_.id).toSet
      val jobs = trace.synchronized(trace.jobs.values.filter(j => ids(j.op)).toSeq)
      val stages = trace.stagesOf(jobs).filter(_.tasks > 0)
      val wall = ops.map(_.secs).sum
      val taskS = stages.map(_.runNs).sum / 1e9
      val m = scala.collection.mutable.LinkedHashMap[String, Double]()

      // engine: construction, planning, execution of each op
      var build, plan, exec = 0.0
      ops.foreach { o =>
        val sp = trace.synchronized(trace.spans.filter(_.op == o.id).toSeq)
        val fn = sp.find(_.name == "fn")
        val action = sp.find(_.name == "action")
        val qes = action match {
          case Some(a) =>
            // the action's executions: those that started after fn returned
            val aStartMs = o.t0Ms + (a.startNs - sp.find(_.name == o.name).get.startNs) / 1000000L
            trace.qesIn(aStartMs, o.t1Ms)
          case None => trace.qesIn(o.t0Ms, o.t1Ms)
        }
        // exec is the time in the final action outside its planning phases;
        // without an action span (ingest), Spark's own duration of the
        // executions, which includes planning them
        val p = qes.map(_.planNs).sum / 1e9
        val e = math.max(0.0, action.map(a => (a.endNs - a.startNs) / 1e9)
          .getOrElse(qes.map(_.durationNs).sum / 1e9) - p)
        val b = fn.map(s => (s.endNs - s.startNs) / 1e9).getOrElse(math.max(0.0, o.secs - e))
        build += b; plan += p; exec += e
        if (fn.isDefined) {
          val n = split.addObject()
          n.put("op", o.name).put("round", r).put("total_s", o.secs)
            .put("build_s", b).put("plan_s", p).put("exec_s", e)
            .put("gap", (b + p + e - o.secs) / o.secs)
        }
      }
      m("engine.build_s") = build
      m("engine.eager_jobs") = jobs.count(_.phase == "build").toDouble
      m("engine.plan_s") = plan
      m("engine.exec_s") = exec

      m("exec.jobs") = jobs.size.toDouble
      m("exec.stages") = stages.size.toDouble
      m("exec.tasks") = stages.map(_.tasks).sum.toDouble
      m("exec.tasks_per_stage") = if (stages.isEmpty) 0.0 else m("exec.tasks") / stages.size
      m("exec.task_s") = taskS
      m("exec.core_busy") = if (wall > 0) taskS / (wall * cores) else 0.0
      m("exec.shuffle_mb") = stages.map(_.shuffleBytes).sum / MB
      m("exec.spill_mb") = stages.map(_.spillBytes).sum / MB
      m("exec.scan_mb") = stages.map(_.inputBytes).sum / MB
      m("exec.file_scans") = ops.map(o => trace.qesIn(o.t0Ms, o.t1Ms).map(_.scans).sum).sum.toDouble

      Modules.foreach { mod =>
        val js = jobs.filter(_.module == mod)
        m(s"$mod.jobs") = js.size.toDouble
        m(s"$mod.task_s") = trace.stagesOf(js).map(_.runNs).sum / 1e9
      }

      // sources: records read, bytes read per input byte
      val ingestOp = ops.find(_.name == "ingest")
      val readJobs = ingestOp.map(o => jobs.filter(_.op == o.id)).getOrElse(jobs)
      val readStages = trace.stagesOf(readJobs)
      m("sources.records") = roundInfo(r).map(_.get("records").asDouble())
        .getOrElse(readStages.map(_.inputRecords).sum.toDouble)
      m("sources.read_amplification") =
        if (inputBytes > 0) readStages.map(_.inputBytes).sum.toDouble / inputBytes else 0.0

      m("sinks.bytes_written_mb") = roundInfo(r).map(_.get("sink_bytes").asDouble() / MB).getOrElse(0.0)
      m("sinks.files") = roundInfo(r).map(_.get("sink_files").asDouble()).getOrElse(0.0)
      m("checkpoint.resume_s") = ops.find(_.name == "resume").map(_.secs).getOrElse(0.0)
      def jobSecs(pred: String => Boolean) =
        jobs.filter(j => pred(j.site) && j.endMs >= 0).map(j => (j.endMs - j.startMs) / 1e3).sum
      m("pipeline.materialize_s") = jobSecs(s => s.startsWith("parquet at PipelineRunner"))
      m("pipeline.sink_s") = jobSecs(s => s.startsWith("save at PipelineRunner"))
      m.toMap
    }
    perRound.headOption.foreach { first =>
      first.keys.toSeq.sorted.foreach(k => out.put(k, median(perRound.map(_(k)))))
    }
    // spans of the traced rounds: total and self time (minus child spans) per layer
    val ids = times.filter(t => traced(t.round)).map(_.id).toSet
    val spans = trace.synchronized(trace.spans.toIndexedSeq)
    val summary = result.putObject("span_summary")
    spans.zipWithIndex.filter { case (sp, _) => ids(sp.op) && sp.endNs >= 0 }
      .groupBy(_._1.layer).toSeq.sortBy(_._1).foreach { case (layer, ss) =>
        val total = ss.map { case (sp, _) => sp.endNs - sp.startNs }.sum
        val children = ss.map { case (_, i) =>
          spans.filter(c => c.parent == i && c.endNs >= 0).map(c => c.endNs - c.startNs).sum }.sum
        summary.putObject(layer).put("spans", ss.size)
          .put("total_s", total / 1e9 / traced.size).put("self_s", (total - children) / 1e9 / traced.size)
      }
    def roundTotals(rs: Set[Int]) = rs.toSeq.map(r => times.filter(_.round == r).map(_.secs).sum)
    val untraced = times.map(_.round).toSet -- traced - 0
    out.put("trace.overhead_s",
      median(roundTotals(traced)) - median(roundTotals(if (untraced.isEmpty) Set(0) else untraced)))
    microbench(spark, spec, out)
  }

  /** ns per row of each kernel, chemistry function, operator and
    * streaming aggregate, on a fixed-size single-partition sample of the
    * workload's own columns. */
  def microbench(spark: SparkSession, spec: JsonNode, out: ObjectNode): Unit = {
    graft.engine.Functions.registerAll(spark)
    val n = spec.get("microbench_rows").asInt()
    val ingest = spec.get("workload").asText() == "ingest"
    val dataDir = spec.get("data_dir").asText()
    val (text, vec, sdf, smiles, events): (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) =
      if (ingest) {
        val corpus = spec.get("corpus_dir").asText()
        val recs = SdfReader.readRecords(spark, s"$corpus/chembl/*.sdf").select(col("record"))
        val smi = spark.read.text(s"$corpus/zinc/*.txt")
          .select(split(trim(col("value")), "\\s+").getItem(0).as("smiles"))
          .filter(length(col("smiles")) > 0)
        (recs.select(col("record").as("text")),
          smi.select(expr("cast(morgan_fp(smiles) as array<float>)").as("v"))
            .filter(col("v").isNotNull),
          recs, smi,
          // an event per tranche line: a time within 30 days, a user and a
          // type taken from the SMILES string
          smi.select(
            timestamp_seconds(lit(1704067200L) + pmod(xxhash64(col("smiles")), lit(30L * 86400L))).as("ts"),
            pmod(hash(col("smiles"), lit(1)), lit(100)).cast("long").as("user_id"),
            substring(col("smiles"), 1, 1).as("event_type"),
            length(col("smiles")).cast("double").as("value")))
      } else {
        val docs = Tables.documents(spark, dataDir)
        val p = Tables.part(spark, dataDir)
        val m = col("p_partkey") % 6
        val alkane = repeat(lit("C"), (col("p_size") % 10 + 1).cast("int"))
        (docs.select(col("text")),
          Tables.embeddings(spark, dataDir).select(col("embedding").as("v")),
          docs.select(concat(col("doc_id").cast("string"), lit("\n  -doc-\n\nM  END\n>  <ID>\n"),
            col("doc_id").cast("string"), lit("\n\n>  <TEXT>\n"), col("text"),
            lit("\n\n")).as("record")),
          p.select(when(m === 0, concat(alkane, lit("(")))
            .when(m === 1, lit("C1CCCCC1")).when(m === 2, lit("CC(=O)O"))
            .when(m === 3, lit("C1CC")).when(m === 4, lit("[Na+].[Cl-]"))
            .otherwise(alkane).as("smiles")),
          Tables.events(spark, dataDir).select("ts", "user_id", "event_type", "value"))
      }
    // n rows, repeating the input when it is smaller
    def sample(df: DataFrame): DataFrame = {
      val copies = math.max(1L, math.ceil(n.toDouble / math.max(1L, df.count())).toLong)
      val s = df.crossJoin(spark.range(copies)).drop("id").limit(n).coalesce(1).cache()
      s.count(); s
    }
    val t = sample(text); val v = sample(vec); val r = sample(sdf); val sm = sample(smiles)
    val ev = sample(events)
    val docs = sample(t.withColumn("doc_id", monotonically_increasing_id()))
    // best of three runs, minus the same query reading the input column
    // without computing on it (its null flag), so neither the job's fixed
    // cost nor hashing a wide input counts as per-row cost
    def best(q: DataFrame): Double = {
      q.collect()
      (1 to 3).map { _ => val t0 = System.nanoTime(); q.collect(); System.nanoTime() - t0 }.min
    }
    def time(df: DataFrame, e: Column): Double = {
      val base = best(df.select(col(df.columns.head).isNull.as("k")).agg(sum(hash(col("k")))))
      (best(df.select(e.as("k")).agg(sum(hash(col("k"))))) - base) / df.count()
    }
    // an operator or a streaming aggregate: its whole output hashed, minus
    // the same over its input
    def timeFrame(df: DataFrame, f: DataFrame => DataFrame): Double = {
      def hashed(x: DataFrame) = x.select(hash(x.columns.map(col): _*).as("k")).agg(sum(col("k")))
      (best(hashed(f(df))) - best(hashed(df))) / df.count()
    }
    val kernels: Seq[(String, DataFrame, String)] = Seq(
      ("ws_tokens", t, "ws_tokens(text)"),
      ("token_shingles", t, "token_shingles(text, 3)"),
      ("simhash64", t, "simhash64(text)"),
      ("minhash_signature", t, "minhash_signature(transform(ws_tokens(text), x -> xxhash64(x)), 64)"),
      ("minhash_band_keys", t, "minhash_band_keys(text, 16, 4)"),
      ("sign_bucket", v, "sign_bucket(v, 16)"),
      ("dot_product", v, "dot_product(v, v)"),
      ("array_jaccard", t, "array_jaccard(ws_tokens(text), token_shingles(text, 1))"),
      ("sdf_props", r, "map_values(sdf_props(record))"))
    kernels.foreach { case (k, df, e) => out.put(s"plans.$k.ns_per_row", time(df, expr(e))) }
    Udfs.foreach(u => out.put(s"functions.$u.ns_per_row", time(sm, expr(s"$u(smiles)"))))
    val frames: Seq[(String, DataFrame, DataFrame => DataFrame)] = Seq(
      ("operators.exact_dedup", docs, Dedup.exactByContent(_, "doc_id", "text")),
      ("operators.minhash_candidates", docs, Dedup.minHashCandidates(_, "doc_id", "text")),
      ("streaming.tumbling_counts", ev, EventStreams.tumblingCounts(_)),
      ("streaming.session_agg", ev, EventStreams.sessionAgg(_)))
    frames.foreach { case (k, df, f) => out.put(s"$k.ns_per_row", timeFrame(df, f)) }
    Seq(t, v, r, sm, ev, docs).foreach(_.unpersist())
  }
}
