package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** One benchmark JVM. Reads a plan (JSON) written by `run.py`, builds the
  * session the engine's own bench uses, warms up, then runs a closed loop of
  * one client over the planned queries: call `SparkEntry.queries(name)`,
  * force the result with `collect`, release per-query state, next query.
  *
  * Every result is written as parquet after its timing ends, so `run.py` can
  * compare it with the DuckDB oracle. A query that runs again over the same
  * input (the passes of `mr_corpus`) is dumped again only when its rows
  * differ from the dumped ones; otherwise its row names that dump in
  * `same_as`, and its check is that one's. With `trace` on, [[Trace]] registers
  * public Spark hooks and the report carries one row of layer counters per
  * query. Usage: `perfbench.Runner <plan.json> <report.json>`. */
object Runner {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(Files.readString(Paths.get(args(0))))
    val reportPath = Paths.get(args(1))
    val traced = plan.path("trace").asBoolean(false)
    val outDir = plan.get("out_dir").asText()
    val report = mapper.createObjectNode()

    val spark = graft.Bench.localSession(plan.get("cpus").asText())
    // the per-run root for the bounded replays' ephemeral checkpoints
    spark.conf.set("graft.stream.checkpointRoot", plan.get("checkpoint_root").asText())
    val trace = if (traced) Some(new Trace(spark)) else None
    val entries = graft.SparkEntry.queries
    val warmDir = plan.get("warm_dir").asText()
    plan.get("warm").elements().asScala.map(_.asText()).foreach { name =>
      try entries(name)(spark, warmDir).collect()
      catch { case e: Throwable => System.err.println(s"[perfbench] warmup $name failed: $e") }
      graft.Bench.isolateQueryState(spark)
    }
    report.put("setup_done_epoch_s", epochSeconds())
    report.put("out_dir", outDir)
    val oracle = report.putObject("oracle_sql")
    plan.get("queries").elements().asScala.map(_.get("name").asText()).toSeq.distinct
      .foreach(n => graft.SparkEntry.oracleSql.get(n).foreach(oracle.put(n, _)))
    // set-up-only JVMs set up alongside this one; the timed loop starts once
    // `run.py` has seen them end (it then creates `go_file`), so it runs alone
    Option(plan.get("go_file")).map(f => Paths.get(f.asText())).foreach { go =>
      val deadline = System.nanoTime() + 300L * 1000000000L
      while (!Files.exists(go)) {
        if (System.nanoTime() > deadline) throw new IllegalStateException(s"no $go after 300 s")
        Thread.sleep(20)
      }
    }

    if (!plan.path("setup_only").asBoolean(false)) {
      val rows = report.putArray("queries")
      trace.foreach(_.startLoop())
      val reset = plan.path("reset_between").asBoolean(false)
      val dumped = scala.collection.mutable.Map.empty[(String, String), (String, Int)]
      plan.get("queries").elements().asScala.zipWithIndex.foreach { case (q, i) =>
        rows.add(runOne(spark, entries, q.get("name").asText(), q.get("dir").asText(),
          i, s"$outDir/results/$i", trace, dumped))
        if (reset) dropArtifacts(spark)
      }
      trace.foreach(t => report.set[ObjectNode]("trace", t.finish(rows)))
    }
    report.put("vm_hwm_mb", vmHwmMb())
    spark.stop()
    Files.writeString(reportPath, mapper.writeValueAsString(report))
  }

  /** Time one query: build (the `SparkEntry` call, which may run eager jobs)
    * plus force (`collect`), then release its state. The dump that follows
    * is outside every timing. */
  private def runOne(spark: SparkSession,
                     entries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame],
                     name: String, dir: String, i: Int, dumpDir: String,
                     trace: Option[Trace],
                     dumped: scala.collection.mutable.Map[(String, String), (String, Int)]): ObjectNode = {
    val row = mapper.createObjectNode()
    row.put("i", i).put("name", name)
    val sc = spark.sparkContext
    sc.setLocalProperty(Trace.QueryKey, i.toString)
    trace.foreach(_.beginQuery(i))
    val startMs = System.currentTimeMillis()
    row.put("submit_epoch_s", epochSeconds())
    val t0 = System.nanoTime()
    var t1 = t0
    val result = try {
      val df = entries(name)(spark, dir)
      t1 = System.nanoTime()
      trace.foreach(_.buildDone(i))
      val collected = df.collect()
      Right((df.schema, collected))
    } catch { case e: Throwable =>
      if (t1 == t0) t1 = System.nanoTime()
      Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    }
    val t2 = System.nanoTime()
    val endMs = System.currentTimeMillis()
    trace.foreach(_.endQuery(i))
    sc.setLocalProperty(Trace.QueryKey, null)
    graft.Bench.isolateQueryState(spark)
    val t3 = System.nanoTime()
    row.put("build_s", (t1 - t0) / 1e9).put("force_s", (t2 - t1) / 1e9)
      .put("latency_s", (t2 - t0) / 1e9).put("isolate_s", (t3 - t2) / 1e9)
      .put("start_ms", startMs).put("end_ms", endMs)
    result match {
      case Left(err) => row.put("error", err)
      case Right((schema, collected)) =>
        row.put("rows", collected.length)
        val digest = rowsDigest(schema, collected)
        dumped.get((name, dir)) match {
          case Some((d, first)) if d == digest => row.put("same_as", first)
          case previous =>
            try {
              spark.createDataFrame(java.util.Arrays.asList(collected: _*), schema)
                .coalesce(1).write.mode("overwrite").parquet(dumpDir)
              if (previous.isEmpty) dumped((name, dir)) = (digest, i)
            } catch { case e: Throwable => row.put("error", s"dump failed: ${e.getClass.getSimpleName}") }
        }
    }
    row
  }

  /** SHA-256 of a result's schema and rows, in row order. */
  private def rowsDigest(schema: org.apache.spark.sql.types.StructType,
                         rows: Array[org.apache.spark.sql.Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(schema.json.getBytes("UTF-8"))
    rows.foreach { r => md.update(r.toString.getBytes("UTF-8")); md.update(0.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Forget every artifact the engine persisted, so the next query starts
    * as the first query of a run does: drop the warehouse tables and empty
    * `java.io.tmpdir`, which holds the staged roots. Used when profiling. */
  private def dropArtifacts(spark: SparkSession): Unit = {
    spark.catalog.listTables().collect().foreach { t =>
      if (t.isTemporary) spark.catalog.dropTempView(t.name)
      else spark.sql(s"DROP TABLE IF EXISTS `${t.database}`.`${t.name}`")
    }
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    Option(tmp.listFiles()).getOrElse(Array.empty[java.io.File])
      .foreach(f => org.apache.commons.io.FileUtils.deleteQuietly(f))
  }

  private def epochSeconds(): Double = {
    val now = java.time.Instant.now()
    now.getEpochSecond + now.getNano / 1e9
  }

  /** Peak resident set of this JVM (`VmHWM`), in MB. */
  private def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong / 1024.0)
      .getOrElse(0.0)
}
