package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.lit

import com.fasterxml.jackson.databind.ObjectMapper

import graft.SparkEntry
import graft.core.GraftSession
import graft.etl.Pipeline
import graft.graph.{GraphDb, GraphStore}

/** The benchmark's JVM side: runs one workload against the program's
  * public entry points and writes every raw sample to a JSON file. All
  * metric arithmetic and every output check live in the Python runner
  * (`perfbench/run.py`), which wrote the spec this reads.
  *
  * Usage: `perfbench.BenchMain <spec.json> <out.json>`
  *
  * Session discipline follows `graft.Bench`: one session, warm passes
  * before timing, Dataset caches and persisted RDDs cleared after every
  * op, streams stopped and `StateStore.stop()` after every streaming op.
  * Heap and code-cache sizes are fixed by the launcher. */
object BenchMain {

  private val mapper = new ObjectMapper()

  /** Scala values to Jackson-writable Java values. */
  def toJava(v: Any): AnyRef = v match {
    case null | (_: scala.runtime.BoxedUnit) => null
    case m: Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] =>
      val out = new java.util.ArrayList[AnyRef]()
      s.foreach(x => out.add(toJava(x)))
      out
    case a: Array[_] => toJava(a.toSeq)
    case r: Row => toJava(r.toSeq)
    case t: java.sql.Timestamp => t.toString
    case d: java.sql.Date => d.toString
    case b: java.math.BigDecimal => b.toPlainString
    case b: scala.math.BigDecimal => b.bigDecimal.toPlainString
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }

  private def str(m: java.util.Map[String, AnyRef], k: String): String = m.get(k).toString
  private def int(m: java.util.Map[String, AnyRef], k: String): Int = m.get(k).toString.toInt

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: perfbench.BenchMain <spec.json> <out.json>")
    val spec = mapper.readValue(new File(args(0)), classOf[java.util.Map[String, AnyRef]])
    val out = mutable.LinkedHashMap.empty[String, Any]
    val spark = GraftSession.local(int(spec, "cores"), "perfbench")
    out("session_ready_ms") = System.currentTimeMillis()
    val runner = new Runner(spark, spec, out)
    try runner.run()
    catch {
      case e: Throwable =>
        out("fatal") = s"${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
    } finally {
      out("ops") = runner.ops.toSeq
      out("passes") = runner.passes.toSeq
      runner.tracer.foreach(t => out("spans") = t.spanRecords)
      mapper.writeValue(new File(args(1)), toJava(out.toMap))
      spark.stop()
    }
  }

  /** One timed op: public-call phases (`call`, then optionally `plan`
    * and `exec` of the returned frame), its answer, and, in traced
    * passes, the listener counts charged to it. */
  final class Phases(runner: Runner, val opId: String, opSpan: Long, layer: String) {
    val ms = mutable.LinkedHashMap.empty[String, Double]
    def phase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try runner.tracer match {
        case Some(t) if runner.traced => t.span(opSpan, opId, name, layer)(_ => body)
        case _ => body
      } finally ms(name) = ms.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e6
    }
    /** call → plan → exec for a public call that returns a frame. */
    def frame(df: => DataFrame): Array[Row] = {
      val d = phase("call")(df)
      phase("plan")(d.queryExecution.executedPlan)
      phase("exec")(d.collect())
    }
  }

  final class Runner(spark: SparkSession, spec: java.util.Map[String, AnyRef],
                     out: mutable.LinkedHashMap[String, Any]) {
    val workload: String = str(spec, "workload")
    val work: String = str(spec, "work")
    val tracer: Option[Tracer] =
      if (int(spec, "trace") == 1) Some(new Tracer(spark.sparkContext)) else None
    var traced = false
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    private var pass = 0
    private var opIdx = 0
    private var runSpan = 0L

    def op(name: String, layer: String, params: Any = null)(body: Phases => Any): Unit = {
      opIdx += 1
      val opId = s"p$pass.$opIdx.$name"
      val t = if (traced) tracer else None
      t.foreach(_.beginOp(opId, name))
      val t0 = System.nanoTime()
      var result: Any = null
      var error: String = null
      var phases: Phases = null
      def body0(span: Long): Unit = {
        phases = new Phases(this, opId, span, layer)
        result = body(phases)
      }
      try t match {
        case Some(tr) => tr.span(runSpan, opId, "op", "bench")(body0)
        case None => body0(0L)
      } catch {
        case e: Throwable => error = s"${e.getClass.getSimpleName}: ${e.getMessage}"
      }
      val totalMs = (System.nanoTime() - t0) / 1e6
      t.foreach { tr => tr.endOp(); tr.drain() }
      cleanup(layer)
      ops += Map("pass" -> pass, "name" -> name, "layer" -> layer, "params" -> params,
        "total_ms" -> totalMs, "phases" -> (if (phases == null) Map.empty else phases.ms.toMap),
        "result" -> result, "error" -> error, "traced" -> traced,
        "counts" -> t.map(_.countsFor(opId)).orNull)
    }

    /** graft.Bench's between-ops residue discipline. */
    def cleanup(layer: String): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
      if (layer == "streaming")
        try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
        catch { case _: Throwable => () }
    }

    def run(): Unit = {
      val w: Workload = workload match {
        case "kg_etl_chat" => new KgEtlChat(this, spec)
        case "graph_loops" => new QueryPasses(this, spec)
        case other => sys.error(s"unknown workload $other")
      }
      // set-up, repeated: each repetition is also a warm pass
      val prep = (1 to int(spec, "setup_reps")).map { rep =>
        pass = -rep
        val t0 = System.nanoTime()
        w.prep(rep)
        (System.nanoTime() - t0) / 1e9
      }
      out("prep_s") = prep
      w.beforeTimed()
      val seconds = int(spec, "seconds")
      val minPasses = int(spec, "min_passes")
      val t0 = System.nanoTime()
      pass = 0
      def runPass(): Unit = {
        // traced runs alternate untraced and traced passes, so one run
        // also measures the tracing overhead
        traced = tracer.isDefined && pass % 2 == 1
        val p0 = System.nanoTime()
        tracer.filter(_ => traced).fold(w.pass(pass)) { t =>
          spark.sparkContext.addSparkListener(t.sparkListener)
          spark.streams.addListener(t.streamListener)
          try t.span(0L, s"pass$pass", "pass", "bench") { id => runSpan = id; w.pass(pass) }
          finally {
            spark.sparkContext.removeSparkListener(t.sparkListener)
            spark.streams.removeListener(t.streamListener)
          }
        }
        passes += Map("pass" -> pass, "wall_s" -> (System.nanoTime() - p0) / 1e9,
          "traced" -> traced)
        pass += 1
      }
      while ((System.nanoTime() - t0) / 1e9 < seconds || pass < minPasses) {
        if (!w.hasPass(pass)) sys.error(s"spec holds too few passes for ${seconds}s (ran $pass)")
        runPass()
      }
      traced = false
      out("timed_s") = (System.nanoTime() - t0) / 1e9
      w.afterTimed()
      out("info") = w.info
      System.gc(); System.gc()
      val rt = Runtime.getRuntime
      out("heap_after_gc_mb") = (rt.totalMemory() - rt.freeMemory()) / 1048576.0
      out("settings") = Map(
        "max_heap_mb" -> rt.maxMemory() / 1048576,
        "master" -> spark.sparkContext.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "code_cache" -> java.lang.management.ManagementFactory.getRuntimeMXBean
          .getInputArguments.asScala.filter(_.contains("CodeCache")).mkString(" "))
    }
  }

  trait Workload {
    def prep(rep: Int): Unit
    def hasPass(p: Int): Boolean
    def pass(p: Int): Unit
    /** Facts about the inputs and the store, reported once per run. */
    var info: Map[String, Any] = Map.empty
    def beforeTimed(): Unit = ()
    def afterTimed(): Unit = ()
  }

  def treeBytes(dir: String): (Long, Long) = {
    val files = Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p)).toSeq
    (files.map(p => Files.size(p)).sum, files.size.toLong)
  }

  def statsMap(s: Pipeline.Stats): Map[String, Any] =
    Map("labels" -> s.labels, "nodes" -> s.totalNodes, "edges" -> s.totalEdges)

  /** `kg_etl_chat`: the paper's system end to end. One pass loads the
    * knowledge graph with the ETL (reset → schema → both imports →
    * stats), reloads it (both imports again on the loaded store: the
    * idempotent MERGE path), validates node uniqueness, and then runs one
    * chat session on it: one client opens the saved store with
    * `GraphDb.load` and sends a block of Cypher requests through
    * `GraphDb.query`, waiting for each answer. A session's writes grow
    * its held plan, so every session starts from the store. */
  final class KgEtlChat(r: Runner, spec: java.util.Map[String, AnyRef]) extends Workload {
    private val sess = SparkSession.active
    private val fac = str(spec, "facilities")
    private val csv = str(spec, "items")
    private val store = str(spec, "store")
    private val block = int(spec, "block")
    private def reqs(k: String): IndexedSeq[java.util.Map[String, AnyRef]] =
      spec.get(k).asInstanceOf[java.util.List[java.util.Map[String, AnyRef]]].asScala.toIndexedSeq
    private val requests = reqs("requests")
    private val warm = reqs("warm_requests")
    // one clock literal for all writes, as EtlMain uses one per run
    private val clock = () => lit(new java.sql.Timestamp(1700000000000L))
    private var db: GraphDb = _
    private val planNodes = mutable.ArrayBuffer.empty[Long]

    def prep(rep: Int): Unit = { etl(); chat(warm) }

    override def hasPass(p: Int): Boolean = (p + 1) * block <= requests.size
    def pass(p: Int): Unit = {
      etl()
      if (p == 0) {
        val (bytes, files) = treeBytes(store)
        info = Map("store_bytes" -> bytes, "store_files" -> files,
          "input_bytes" -> (Files.size(Paths.get(fac)) + Files.size(Paths.get(csv))))
      }
      chat(requests.slice(p * block, (p + 1) * block), probe = p == 0)
    }
    override def afterTimed(): Unit =
      info ++= Map("plan_nodes_first" -> planNodes.head, "plan_nodes_last" -> planNodes.last)

    private def etl(): Unit = {
      r.op("reset", "etl")(ph => ph.phase("call")(Pipeline.reset(sess, store)))
      r.op("schema", "etl")(ph => ph.phase("call")(Pipeline.applySchema().size))
      for (prefix <- Seq("", "re")) {
        r.op(s"${prefix}import_facilities", "etl")(ph =>
          ph.phase("call")(Pipeline.importFacilities(sess, fac, store, clock())))
        r.op(s"${prefix}import_waste_items", "etl") { ph =>
          val (i, s, e) = ph.phase("call")(Pipeline.importWasteItems(sess, csv, store, clock()))
          Map("items" -> i, "streams" -> s, "edges" -> e)
        }
        r.op(s"${prefix}stats", "etl")(ph => statsMap(ph.phase("call")(Pipeline.stats(sess, store))))
      }
      r.op("validate_unique", "graph")(ph =>
        ph.frame(GraphStore.validateUnique(GraphStore.readNodes(sess, s"$store/nodes"))))
    }

    /** One chat session; `probe` records the optimized-plan size of the
      * session's first read before and after its writes. */
    private def chat(reqs: Seq[java.util.Map[String, AnyRef]], probe: Boolean = false): Unit = {
      r.op("open", "graph") { ph => db = ph.phase("call")(GraphDb.load(sess, store, clock)); null }
      def probePlan(): Unit = if (probe)
        planNodes += db.query(reqs.head.get("cypher").toString)
          .queryExecution.optimizedPlan.collect { case n => n }.size.toLong
      probePlan()
      reqs.foreach(send)
      probePlan()
    }

    private def send(q: java.util.Map[String, AnyRef]): Unit = {
      val cypher = q.get("cypher").toString
      val params = q.get("params").asInstanceOf[java.util.Map[String, AnyRef]].asScala.toMap
      val name = q.get("tpl").toString
      if (q.get("kind") == "write")
        r.op(name, "graph", params)(ph => { ph.phase("call")(db.query(cypher, params)); null })
      else r.op(name, "graph", params)(ph => ph.frame(db.query(cypher, params)).map(_.toSeq).toSeq)
    }
  }

  /** `graph_loops`: passes over named `SparkEntry.queries`
    * entries in a seeded order. The first warm pass writes each answer
    * as parquet for the oracle check; timed passes collect it. */
  final class QueryPasses(r: Runner, spec: java.util.Map[String, AnyRef]) extends Workload {
    private val sess = SparkSession.active
    private val data = str(spec, "data")
    private val order: IndexedSeq[Seq[String]] =
      spec.get("passes").asInstanceOf[java.util.List[java.util.List[String]]].asScala
        .map(_.asScala.toSeq).toIndexedSeq
    private val names = order.head.sorted
    private def layer(q: String) = if (q.startsWith("s")) "streaming" else "queries"

    def prep(rep: Int): Unit = names.foreach { q =>
      val fn = SparkEntry.queries(q)
      if (rep == 1) {
        val dir = s"${r.work}/answers/$q"
        r.op(q, layer(q)) { ph =>
          ph.phase("call")(fn(sess, data)).coalesce(1).write.mode("overwrite").parquet(dir)
          dir
        }
      } else r.op(q, layer(q))(ph => ph.frame(fn(sess, data)).length.toLong)
    }

    override def beforeTimed(): Unit = {
      val oracles = names.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
      mapper.writeValue(new File(s"${r.work}/oracle_sql.json"), toJava(oracles))
    }
    override def hasPass(p: Int): Boolean = p < order.size
    def pass(p: Int): Unit = order(p).foreach { q =>
      r.op(q, layer(q))(ph => ph.frame(SparkEntry.queries(q)(sess, data)).length.toLong)
    }
  }
}
