package perfbench

import graft.cypher.CypherExporter
import graft.metrics.Metrics
import graft.model.{Forest, Schema}
import graft.rewrite.Rewrite
import graft.sinks.{Jsonl, SqlExporter}
import graft.sources.{RelationalLoader, Testdata}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import java.io.File
import scala.collection.mutable

/** One pipeline iteration in a fresh JVM: build a SparkSession and run a
  * trivial job, print `ready` on stdout, then run the `Cli simplify`
  * call chain with each public call in its own span, write the SQL,
  * Cypher and JSONL exports under `--out`, and write a JSON report to
  * `--report` for the harness (`run.py`) to check and summarise. With
  * `--setup-only 1` it stops right after `ready`.
  *
  * Usage: Main --input DIR --out DIR --report FILE --db customerDb|ordersDb
  *   --rewrite 0|1 --metrics 0|1 --trace 0|1 --cores N --scratch DIR --setup-only 0|1
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val cores = opt("cores")
    val traced = opt("trace") == "1"
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", opt("scratch"))
      .config("spark.sql.warehouse.dir", s"${opt("scratch")}/warehouse")
      .appName("perfbench")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val listener = if (traced) new TaskRecorder else new BlockTracker
    sc.addSparkListener(listener)
    spark.range(1).count()
    println("ready")
    System.out.flush()
    if (opt("setup-only") == "1") { spark.stop(); return }

    val out = opt("out")
    val span = new Spans(sc)
    val report = mutable.LinkedHashMap.empty[String, Any]
    def record(key: String, value: Any): Unit = report(key) = value
    var metrics: Option[Metrics] = None
    val t0 = System.nanoTime()
    span("pipeline") {
      val forest = span("sources.load") {
        val f = RelationalLoader.load(spark, opt("input"), dbConfig(opt("db"))).localCheckpoint(true)
        record("trees", f.count())
        f
      }
      val simplified =
        if (opt("rewrite") != "1") forest
        else {
          // Cli simplify defaults: tau 0.7, decay 2.0, epochs cap 100
          val res = span("rewrite")(Rewrite.rewriteWithStats(forest, Rewrite.Config()))
          record("epochs", res.epochsToConverge)
          res.forest
        }
      val nodes = span("model.nodes")(Forest.toNodesDF(simplified))
      val schema = span("model.schema")(Schema.fromForest(nodes, keepUnlabelled = false))
      record("productions", schema.productions.map(_.toString).sorted)
      record("relations", schema.relations.toSeq
        .map(r => s"${r.name}: ${r.left} <-> ${r.right} [${r.orientation}]").sorted)
      if (opt("metrics") == "1") {
        val m = span("metrics.snapshot") {
          val m = new Metrics(forest, Rewrite.Config().tau)
          m.update(simplified)
          m
        }
        record("coverage", span("metrics.coverage")(m.coverage))
        record("ami", span("metrics.ami")(m.clusterAmi))
        record("completeness", span("metrics.completeness")(m.clusterCompleteness))
        metrics = Some(m)
      }
      span("sinks.sql") {
        val ex = SqlExporter.export(nodes, schema)
        ex.tables.foreach { case (name, df) => df.write.mode("overwrite").parquet(s"$out/sql/$name") }
        ex.release()
      }
      span("cypher.export") {
        CypherExporter.export(simplified, schema).statements.write.mode("overwrite").text(s"$out/cypher")
      }
      span("sinks.jsonl")(Jsonl.write(simplified, s"$out/jsonl"))
    }
    record("pipeline_s", (System.nanoTime() - t0) / 1e9)
    // untimed: the inputs of the metrics, for the harness to recompute them
    metrics.foreach { m =>
      record("origin_oids", m.origin.entityOids.collect().toSeq)
      record("current_oids", m.current.entityOids.collect().toSeq)
      record("origin_clusters", m.origin.clustering.collect().toSeq.map { case (o, l) => Seq(o, l) })
      record("current_clusters", m.current.clustering.collect().toSeq.map { case (o, l) => Seq(o, l) })
    }
    // stopping drains the listener bus, so every event is counted below
    spark.stop()
    record("peak_cached_bytes", listener.peakBytes)
    record("spans", span.all.toSeq.map(s => Map(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
    listener match {
      case r: TaskRecorder => record("jobs", r.jobs.values.toSeq.map { j =>
          val t = j.totals
          Map("id" -> j.id, "group" -> j.group, "call_site" -> j.callSite,
            "start_ms" -> j.startMs, "end_ms" -> j.endMs, "run_ms" -> t.runMs, "cpu_ns" -> t.cpuNs,
            "serde_ms" -> t.serdeMs, "gc_ms" -> t.gcMs, "shuffle_bytes" -> t.shuffleBytes,
            "spill_bytes" -> t.spillBytes, "output_bytes" -> t.outputBytes)
        })
      case _ =>
    }
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(opt("report")), report)
  }

  private def dbConfig(name: String) = name match {
    case "customerDb" => Testdata.customerDb
    case "ordersDb"   => Testdata.ordersDb
  }
}
