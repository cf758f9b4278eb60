package graft.perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{GraftSession, Tables}
import graft.fhir.{BundleIngest, FactJobs, FhirMain, ParquetRawstatStore, ParquetSink, RawStats}

/** JVM side of the benchmark (`perfbench/run.py` drives it).
  *
  * {{{
  * corpus <outDir> <nDocs> <nVecs> <offset> <iid|skew>
  * oracle <outJson> <queryName>...
  * run <workload> <inDir> <workDir> <seconds> <trace 0|1> <cores>
  *     <seed> <resultJson> [queryList]
  * }}}
  *
  * `corpus` writes a `graft.tools.GenCorpus` corpus as JSON lines (float
  * embeddings as raw bits), rows `offset until offset+n` renumbered from
  * 0, so the seed picks a window of the generator's stream.
  *
  * `run` builds the graft session (timed from process start), then runs
  * the workload's operations back to back, one closed-loop client, in
  * whole rounds (one operation, or one pass of the query list), a fixed
  * number per workload. `seconds` is only a guard: no round starts once
  * twice that long has passed since the first one. It writes one JSON
  * record: set-up time, every operation's wall time, error and output
  * checks, and with `trace 1` the counters of the run's rounds and the
  * spans around each call into the program.
  */
object Main {

  def main(args: Array[String]): Unit = args.toList match {
    case "corpus" :: out :: nDocs :: nVecs :: offset :: mode :: Nil =>
      Corpus.write(out, nDocs.toInt, nVecs.toInt, offset.toLong,
        mode == "skew")
    case "oracle" :: out :: names =>
      val sql = graft.SparkEntry.oracleSql
      val w = new PrintWriter(new File(out), "UTF-8")
      try w.write(Json.write(names.map(n => n -> sql(n)).toMap))
      finally w.close()
    case "run" :: workload :: in :: work :: seconds :: trace :: cores ::
        seed :: result :: rest =>
      val o = Opts(workload, in, work, seconds.toDouble, trace == "1",
        cores.toInt, seed.toLong, rest.headOption)
      val record = run(o)
      val w = new PrintWriter(new File(result), "UTF-8")
      try w.write(Json.write(record)) finally w.close()
    case _ =>
      System.err.println("usage: corpus ... | run ...")
      sys.exit(2)
  }

  final case class Opts(workload: String, in: String, work: String,
      seconds: Double, trace: Boolean, cores: Int, seed: Long,
      queryList: Option[String])

  def session(cores: Int): SparkSession =
    GraftSession.tune(GraftSession.build(master = s"local[$cores]",
      appName = "perfbench", shufflePartitions = cores))

  def run(o: Opts): Map[String, Any] = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime
    val spark = session(o.cores)
    val setup = (System.currentTimeMillis() - jvmStart) / 1e3
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    val heap = if (o.trace) Some(new HeapWatch) else None
    val workload: Workload = o.workload match {
      case "fhir_load" => new FhirLoad(spark, o)
      case "query_mix" => new QueryMix(spark, o)
      case "corpus_pipeline" => new CorpusPipeline(spark, o)
      case w => sys.error(s"unknown workload $w")
    }
    val ops = ArrayBuffer[Map[String, Any]]()
    val roundWalls = ArrayBuffer[Double]()
    var i = 0
    def round(): Unit = {
      val t = System.nanoTime()
      (0 until workload.roundSize).foreach { _ =>
        ops += workload.op(i, tracer)
        i += 1
      }
      roundWalls += (System.nanoTime() - t) / 1e9
    }
    workload.prepare()
    val first = tracer.map(_.read())
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var rounds = 0
    while (rounds < workload.rounds && elapsed < 2 * o.seconds) {
      round()
      rounds += 1
    }
    val wall = elapsed
    val whole = for (tr <- tracer; a <- first) yield tr.delta(a, tr.read())
    val outFiles = workload.outputs
    val record = Map(
      "workload" -> o.workload, "seed" -> o.seed, "cores" -> o.cores,
      "setup_s" -> setup, "wall_s" -> wall, "ops" -> ops.toList,
      "rounds_s" -> roundWalls.toList, "rounds" -> rounds,
      "rounds_planned" -> workload.rounds,
      "peak_rss_mb" -> Proc.peakRssMb, "heap_peak_mb" -> heap.map(_.peakMb),
      "outputs" -> Map("files" -> outFiles._1, "bytes" -> outFiles._2),
      "whole" -> whole,
      "spans" -> tracer.map(_.spans.toList).getOrElse(Nil),
      "trace_own_s" -> tracer.map(_.ownS),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"))
    spark.stop()
    record
  }
}

object Proc {
  /** VmHWM of this process in MB (peak resident set). */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}

/** One workload: operation `i`, the operations in a round, the rounds
  * every run makes, and the data files the run leaves behind. */
trait Workload {
  def op(i: Int, tracer: Option[Tracer]): Map[String, Any]
  def roundSize: Int = 1
  def rounds: Int = 1
  /** Untimed work before the first round. */
  def prepare(): Unit = ()
  def outputs: (Long, Long)

  /** Run `body`, timing it; a throw becomes an error record, never a
    * timed success. */
  protected def timed(name: String)(body: => Map[String, Any])
      : Map[String, Any] = {
    val t = System.nanoTime()
    try {
      val checks = body
      Map("name" -> name, "ok" -> true,
        "wall_s" -> (System.nanoTime() - t) / 1e9) ++ checks
    } catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        Map("name" -> name, "ok" -> false,
          "wall_s" -> (System.nanoTime() - t) / 1e9,
          "error" -> (e.getClass.getName + ": " +
            String.valueOf(e.getMessage).take(300)))
    }
  }

  protected def span[T](tracer: Option[Tracer], name: String, op: Int,
      writes: Seq[String] = Nil)(body: => T): T = tracer match {
    case Some(t) => t.span(name, op, writes)(body)
    case None => body
  }
}

/** The paper's own job: one `FhirMain.run` with parquet sinks and reset
  * in a fresh JVM, as a batch load runs. */
final class FhirLoad(spark: SparkSession, o: Main.Opts) extends Workload {
  private val bundles = s"${o.in}/bundles"
  private val out = s"${o.work}/warehouse"
  private val asOf = "2026-01-01"
  private val facts = Seq(
    "synth_pop_facts", "synth_disease_facts", "synth_condition_facts")

  def outputs: (Long, Long) = Files.dataFiles(Seq(out))

  def op(i: Int, tracer: Option[Tracer]): Map[String, Any] = {
    val r = timed("fhir_load") {
      tracer match {
        case None =>
          FhirMain.run(spark, bundles, out, Some(s"${o.in}/cousub.parquet"),
            Some(s"${o.in}/disease.parquet"), asOf, reset = true)
        case Some(_) => traced(i, tracer)
      }
      Map.empty
    }
    if (r("ok") == true) r ++ check() else r
  }

  /** FhirMain.run's calls, one span each. The read and rewrite are first
    * materialized apart, then once undivided as FhirMain runs them. */
  private def traced(i: Int, tracer: Option[Tracer]): Unit = {
    val parquet = new ParquetSink(out)
    span(tracer, "fhir.Sinks.reset", i) {
      parquet.clearFactTables(facts)
      parquet.reset()
    }
    val (cousub, disease) = span(tracer, "fhir.RawStats.dims", i) {
      (RawStats.loadCousubDim(spark.read.parquet(s"${o.in}/cousub.parquet")),
        RawStats.loadDiseaseDim(
          spark.read.parquet(s"${o.in}/disease.parquet")))
    }
    val parsed = span(tracer, "fhir.BundleIngest.read", i) {
      val p = BundleIngest.readBundles(spark, bundles).cache()
      p.count()
      p
    }
    span(tracer, "fhir.BundleIngest.rewrite", i) {
      val r = BundleIngest.rewriteBundle(parsed).cache()
      r.count()
      r.unpersist()
    }
    parsed.unpersist()
    val ingested = span(tracer, "fhir.BundleIngest.ingest", i) {
      val b = BundleIngest.rewriteBundle(
        BundleIngest.readBundles(spark, bundles)).cache()
      b.count()
      b
    }
    span(tracer, "fhir.Sinks.resources", i, Seq(s"$out/resources")) {
      val routed = BundleIngest.routeResources(ingested).persist()
      parquet.writeResources(routed)
      routed.unpersist()
    }
    val store = new ParquetRawstatStore(out)
    span(tracer, "fhir.RawStats", i, Seq(s"$out/rawstat")) {
      store.write(RawStats.build(ingested, cousub, disease,
        lit(asOf).cast("date")))
    }
    span(tracer, "fhir.FactJobs", i, facts.map(f => s"$out/$f")) {
      val back = store.read(spark)
      parquet.writeFacts(facts(0), FactJobs.populationFacts(back))
      parquet.writeFacts(facts(1), FactJobs.diseaseFacts(back))
      parquet.writeFacts(facts(2), FactJobs.conditionFacts(back))
    }
    ingested.unpersist()
  }

  /** What the run wrote, for comparison with the generator's truth. */
  private def check(): Map[String, Any] = {
    val rawstat = spark.read.parquet(s"$out/rawstat").select(
      col("age"), col("gender"), col("deceasedboolean"),
      col("location.city").as("city"), col("location.zipcode").as("zipcode"),
      col("location.countyid_fips").as("countyid_fips"),
      col("location.subcountyid_fips").as("subcountyid_fips"),
      col("uniqueconditions"), col("uniquediseases"))
    val res = spark.read.parquet(s"$out/resources")
    val colls = res.groupBy("collection").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    val json = to_json(col("resource"))
    def occurrences(s: String) = sum(size(split(json, s)) - 1)
    val refs = res.agg(occurrences("\"reference\":"), occurrences("urn:uuid:"))
      .head()
    Map(
      "rawstat" -> Digest.of(rawstat),
      "collections" -> scala.collection.immutable.ListMap(colls: _*),
      "references" -> refs.getLong(0),
      "unrewritten" -> refs.getLong(1)) ++
      facts.map(f => f -> Digest.of(spark.read.parquet(s"$out/$f")))
  }
}

/** The declared query surface: a fixed list, cold pass then warm passes
  * in one session, every output row consumed and digested. */
final class QueryMix(spark: SparkSession, o: Main.Opts) extends Workload {
  /** (name, family) in the seed's order. */
  private val list: IndexedSeq[(String, String)] = {
    val src = scala.io.Source.fromFile(o.queryList.get)
    val rows = try src.getLines().map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(n, f) = l.split("\\s+"); (n, f) }.toVector
    finally src.close()
    new scala.util.Random(o.seed).shuffle(rows)
  }
  private val queries = graft.SparkEntry.queries

  def outputs: (Long, Long) = {
    val tmp = new File(sys.props("java.io.tmpdir"))
    Files.dataFiles(Option(tmp.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("graft_")).map(_.getPath))
  }

  /** A round is a pass over the list: a cold one, then a warm one. */
  override def roundSize: Int = list.size
  override def rounds: Int = 2

  /** The session's first job (scheduler, parquet reader and codegen
    * start-up) on a table no listed query reads, so that this one-off
    * cost does not land on whichever query the seed puts first. */
  override def prepare(): Unit = Tables.load(spark, o.in, "region").collect()

  def op(i: Int, tracer: Option[Tracer]): Map[String, Any] = {
    val (name, family) = list(i % list.size)
    val pass = i / list.size + 1
    timed(name) {
      val f = queries(name)
      val df = span(tracer, s"queries.$family.build", i)(f(spark, o.in))
      span(tracer, s"queries.$family.plan", i)(df.queryExecution.executedPlan)
      val digest = span(tracer, s"queries.$family.exec", i)(Digest.of(df))
      Map("pass" -> pass, "family" -> family, "digest" -> digest)
    } + ("pass" -> pass) + ("family" -> family)
  }
}

/** The corpus pipeline: one `PipelineMain.runFrames` with scrub, semantic
  * dedup, pack and mix in a fresh JVM, as a batch job runs. */
final class CorpusPipeline(spark: SparkSession, o: Main.Opts)
    extends Workload {
  import graft.engine.Checkpoints.MaterializeOps
  import graft.ext.{Export, PipelineMain, Selection, Similarity, TextAnalysis}

  private val out = s"${o.work}/pipeline"
  private val packBudget = 2048
  private val mixTemperature = 0.7

  def outputs: (Long, Long) = Files.dataFiles(Seq(out))

  def op(i: Int, tracer: Option[Tracer]): Map[String, Any] = {
    val raw = Tables.load(spark, o.in, "documents")
    val emb = Tables.load(spark, o.in, "embeddings")
    val r = timed("corpus_pipeline") {
      val (kept, total) = tracer match {
        case None =>
          PipelineMain.runFrames(spark, raw, emb, out, scrubText = true,
            semDedup = true, packBudget = packBudget,
            mixTemperature = mixTemperature)
        case Some(_) => traced(i, tracer, raw, emb)
      }
      Map("kept" -> kept, "total" -> total)
    }
    if (r("ok") == true) r ++ check() else r
  }

  /** pipelinePlan's and runFrames's public calls, in their order, one span
    * each; the semantic-dedup flags are materialized to time them apart. */
  private def traced(i: Int, tracer: Option[Tracer], raw: DataFrame,
      emb: DataFrame): (Long, Long) = {
    val docs = span(tracer, "ext.TextAnalysis.scrub", i) {
      graft.engine.Spread.cpuHeavy(raw)
        .withColumn("text", TextAnalysis.scrub(col("text"))).materialized
    }
    val decided = span(tracer, "ext.Export.trainingExport", i) {
      Export.trainingExport(docs, emb).materialized
    }
    val sem = span(tracer, "ext.Similarity.semanticDedup", i) {
      val surviving = emb.join(decided.select(col("doc_id")),
        emb("vec_id") === col("doc_id"), "left_semi").materialized
      Similarity.semanticDedup(surviving, threshold = 0.4,
        centroids = Similarity.trainCentroidsKeyed(surviving,
          "pipeline-semdedup:scrub=true", Seq(raw, emb),
          nCentroids = Similarity.adaptiveCellCount(surviving)))
        .select(col("vec_id").as("doc_id"), col("is_rep").as("sem_rep"))
        .materialized
    }
    span(tracer, "ext.PipelineMain.write", i, Seq(out)) {
      val shards = decided
        .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
        .join(sem, Seq("doc_id"), "left")
        .filter(coalesce(col("sem_rep"), lit(true))).drop("sem_rep")
      shards.write.mode("overwrite").partitionBy("split")
        .parquet(s"$out/shards")
      val written = spark.read.parquet(s"$out/shards")
      Export.shardManifest(written)
        .write.mode("overwrite").parquet(s"$out/manifest")
      Export.packSequences(written,
          concat_ws("/", col("split"), col("source")), col("doc_id"),
          col("n_tokens"), packBudget)
        .write.mode("overwrite").parquet(s"$out/packs")
      Selection.mixtureWeights(written, mixTemperature)
        .write.mode("overwrite").parquet(s"$out/mix")
      (written.count(), raw.count())
    }
  }

  /** Written rows against the manifest and the packs, split disjointness,
    * and the digest of the written shards. */
  private def check(): Map[String, Any] = {
    val shards = spark.read.parquet(s"$out/shards")
    val manifest = spark.read.parquet(s"$out/manifest")
    val fromShards = Export.shardManifest(shards)
    val packs = spark.read.parquet(s"$out/packs")
    val multi = shards.groupBy("doc_id").count().filter(col("count") > 1)
      .count()
    Map(
      "shards" -> Digest.of(shards),
      "manifest_matches" -> (Digest.of(manifest) == Digest.of(fromShards)),
      "packed_docs" -> packs.agg(sum("n_docs")).head().getLong(0),
      "written_docs" -> shards.count(),
      "docs_in_two_splits" -> multi,
      "mix_rows" -> spark.read.parquet(s"$out/mix").count())
  }
}

/** Seeded window of the GenCorpus stream as JSON lines. */
object Corpus {
  def write(out: String, nDocs: Int, nVecs: Int, offset: Long,
      skew: Boolean): Unit = {
    new File(out).mkdirs()
    val d = new PrintWriter(new File(out, "documents.jsonl"), "UTF-8")
    try (0 until nDocs).foreach { i =>
      val x = graft.tools.GenCorpus.doc(offset + i, skew)
      d.println(Json.write(Map("doc_id" -> i.toLong, "text" -> x.text,
        "lang" -> x.lang, "source" -> x.source, "n_chars" -> x.n_chars)))
    } finally d.close()
    val v = new PrintWriter(new File(out, "embeddings.jsonl"), "UTF-8")
    try (0 until nVecs).foreach { i =>
      val x = graft.tools.GenCorpus.vec(offset + i, skew)
      v.println(Json.write(Map("vec_id" -> i.toLong, "label" -> x.label,
        "bits" -> x.embedding.map(f =>
          java.lang.Integer.toUnsignedLong(
            java.lang.Float.floatToRawIntBits(f))))))
    } finally v.close()
  }
}
