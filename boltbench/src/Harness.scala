package boltbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Row, SparkSession}

import graft.{GraftServer, GraftSession}
import graft.cypher.{Cypher, CypherWrite, Parser, Planner}
import graft.graph.{GraphStore, PropertyGraph}
import graft.search.SearchIndexes
import graft.sources.{BoltServer, PackStream}

/** One statement of a workload mix, as generated from the seed by run.py. */
final case class Stmt(key: String, name: String, text: String,
    params: Map[String, Any], write: Boolean, layer: String)

/** The JVM side of the benchmark: boots the engine's BoltServer over a
  * GraphStore and either drives it with closed-loop Bolt sessions for a
  * fixed number of whole rounds, or (traced runs) replays one round of the
  * mix in process, timing each layer's public entry point.
  *
  *   java ... boltbench.Harness MIX_JSON OUT_JSON
  */
object Harness {
  private val json = new ObjectMapper()

  // ------------------------------------------------------------ inputs --

  private def scalaValue(v: Any): Any = v match {
    case i: java.lang.Integer => i.longValue
    case l: java.lang.Long => l.longValue
    case d: java.lang.Double => d.doubleValue
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, x) => k.toString -> scalaValue(x) }.toMap
    case l: java.util.List[_] => l.asScala.map(scalaValue).toSeq
    case other => other
  }

  private def stmts(cfg: Map[String, Any]): IndexedSeq[Stmt] =
    cfg("statements").asInstanceOf[Seq[Map[String, Any]]].map { m =>
      Stmt(m("key").toString, m("name").toString, m("text").toString,
        m("params").asInstanceOf[Map[String, Any]], m("write") == true,
        m("layer").toString)
    }.toIndexedSeq

  /** A session's rounds: each a list of statement indices, run in order. */
  private final case class Session(writer: Boolean, rounds: Seq[Seq[Int]])

  private def sessions(v: Any): Seq[Session] =
    v.asInstanceOf[Seq[Map[String, Any]]].map { m =>
      Session(m("writer") == true,
        m("rounds").asInstanceOf[Seq[Seq[Long]]].map(_.map(_.toInt)))
    }

  // ------------------------------------------------------ result record --

  /** Every distinct answer seen for a statement key, with how many
    * operations returned it; run.py checks each against its oracle.
    */
  private val answers = new ConcurrentHashMap[String, ConcurrentHashMap[Int, (AtomicLong, String)]]()

  private def plain(v: Any): Any = v match {
    case n: PackStream.BoltNode =>
      Map("_node" -> n.elementId, "labels" -> n.labels.asJava,
        "props" -> n.props.map { case (k, x) => k -> plain(x) }.asJava).asJava
    case r: PackStream.BoltRel =>
      Map("_rel" -> r.elementId, "type" -> r.relType).asJava
    case s: Seq[_] => s.map(plain).asJava
    case m: Map[_, _] => m.map { case (k, x) => k.toString -> plain(x) }.asJava
    case other => other
  }

  private def record(key: String, rows: Vector[Seq[Any]]): Unit = {
    val byHash = answers.computeIfAbsent(key, _ => new ConcurrentHashMap())
    val e = byHash.computeIfAbsent(rows.hashCode,
      _ => (new AtomicLong, json.writeValueAsString(plain(rows))))
    e._1.incrementAndGet()
  }

  // --------------------------------------------------------- utilities --

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def vmHwmMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def heapAfterGcMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0

  private def files(dir: String): Map[String, Long] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toMap
      finally st.close()
    }
  }

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    val st = Files.walk(from)
    try st.iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally st.close()
  }

  /** Seed the Northwind graph through Cypher, one autocommit statement at
    * a time, into a fresh WAL-backed data directory.
    */
  private def seedWal(cfg: Map[String, Any]): Unit = {
    val spark = GraftSession.builder("local[2]", 2)
      .config("spark.sql.warehouse.dir", s"${cfg("wal_dir")}.warehouse").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val store = GraftServer.openStore(spark, cfg("wal_dir").toString)
    cfg("seed_statements").asInstanceOf[Seq[String]].foreach(CypherWrite.execute(store, _))
    spark.stop()
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Spark row → PackStream-encodable values (nested rows as lists,
    * temporal values as ISO strings).
    */
  private def boltValue(v: Any): Any = v match {
    case r: Row => r.toSeq.map(boltValue)
    case s: scala.collection.Seq[_] => s.map(boltValue)
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => k.toString -> boltValue(x) }
    case t: java.sql.Timestamp => t.toString
    case d: java.sql.Date => d.toString
    case other => other
  }

  // -------------------------------------------------------------- main --

  private def log(msg: String): Unit =
    System.err.println(f"[harness ${System.currentTimeMillis() % 100000000}%d] $msg")

  def main(args: Array[String]): Unit = {
    val code =
      try { bench(args); 0 }
      catch { case t: Throwable => t.printStackTrace(); 1 }
    // Spark leaves non-daemon threads behind; end the JVM explicitly
    System.exit(code)
  }

  private def bench(args: Array[String]): Unit = {
    val cfg = scalaValue(json.readValue(new File(args(0)), classOf[java.util.Map[_, _]]))
      .asInstanceOf[Map[String, Any]]
    val out = new File(args(1))
    val kind = cfg("kind").toString
    if (kind == "nw_seed") return seedWal(cfg)
    val work = cfg("work_dir").toString
    val data = cfg("data_dir").toString
    val rounds = cfg("rounds").asInstanceOf[Long].toInt
    val traced = cfg("trace") == 1L
    val cpus = cfg("cpus").asInstanceOf[Long].toInt
    val reps = cfg("setup_reps").asInstanceOf[Long].toInt
    val all = stmts(cfg)
    val clients = sessions(cfg("sessions"))
    val warmup = cfg("warmup").asInstanceOf[Seq[Long]].map(_.toInt)

    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val listener = new SpanListener
    if (traced) spark.sparkContext.addSparkListener(listener)

    // ---- fixture: built `reps` times, the last one serves the run ----
    final case class Fixture(store: GraphStore, server: BoltServer,
        walDir: Option[String], cached: Option[PropertyGraph])
    def build(rep: Int): Fixture = kind match {
      case "nw" =>
        // a server restart over the seeded data directory: WAL replay
        val dir = s"$work/nw-store-$rep"
        copyTree(Paths.get(cfg("seeded_wal").toString), Paths.get(dir))
        val store = GraftServer.openStore(spark, dir)
        Fixture(store, BoltServer.forStore(store).start(), Some(s"$dir/graph"), None)
      case "tpch" =>
        val g = PropertyGraph.fromTpch(spark, data).cache()
        g.nodes.count(); g.edges.count()
        SearchIndexes.registerVector(SearchIndexes.VectorIdx("emb64",
          () => graft.Tables.embeddings(spark, data), "vec_id", "embedding", "DATASET"))
        SearchIndexes.registerFulltext(SearchIndexes.FulltextIdx("docs_ft",
          () => graft.Tables.documents(spark, data), "doc_id", "text", "DATASET"))
        val store = new GraphStore(g)
        Fixture(store, BoltServer.forStore(store).start(), None, Some(g))
    }
    val buildS = mutable.ArrayBuffer.empty[Double]
    var fx: Fixture = null
    for (rep <- 1 to reps) {
      if (fx != null) {
        fx.server.stop()
        fx.cached.foreach { g => g.nodes.unpersist(); g.edges.unpersist() }
        fx.walDir.foreach(d => deleteTree(new File(d).getParentFile))
      }
      val t0 = System.nanoTime()
      fx = build(rep)
      buildS += secs(t0)
      log(f"fixture $rep built in ${buildS.last}%.2f s")
    }
    val port = fx.server.boundPort

    // ---- one untimed warm-up pass over every statement of the mix: the
    // writes in order on one session, the reads spread over the others ----
    val warmFailures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val t0w = System.nanoTime()
    val (warmWrites, warmReads) = warmup.partition(all(_).write)
    val lanes = warmWrites +: (0 until cpus - 1).map(l =>
      warmReads.zipWithIndex.collect { case (i, n) if n % (cpus - 1) == l => i })
    lanes.filter(_.nonEmpty).map { lane =>
      val th = new Thread(() => {
        val c = new BoltClient(port)
        try lane.foreach { i =>
          c.run(all(i).text, all(i).params).failure
            .foreach(f => warmFailures.add(s"${all(i).key}: $f"))
        } finally c.close()
      })
      th.start(); th
    }.foreach(_.join())
    val warmS = secs(t0w)
    val setupS = sessionS + median(buildS.toSeq) + warmS
    log(f"set-up $setupS%.2f s (session $sessionS%.2f, warm-up $warmS%.2f)")

    val sc = spark.sparkContext
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val attempted, failed = new AtomicLong
    val readLat = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val latByName = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
    val writeLat = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val readBytes, walAddedBytes, walNewFiles, walCheckpoints = new AtomicLong

    /** One statement over Bolt: latency, answer, and for writes the bytes
      * and files the commit added under the WAL directory.
      */
    def runOne(c: BoltClient, s: Stmt): Unit = {
      val before = if (s.write) fx.walDir.map(files) else None
      val t = System.nanoTime()
      val r = c.run(s.text, s.params)
      val ms = (System.nanoTime() - t) / 1e6
      latByName.add(s.name -> ms)
      attempted.incrementAndGet()
      r.failure match {
        case Some(f) => failed.incrementAndGet(); failures.add(s"${s.key}: $f")
        case None => record(s.key, r.records)
      }
      if (!s.write) { readLat.add(ms); readBytes.addAndGet(r.bytes) }
      else {
        writeLat.add(ms)
        for (b <- before; after <- fx.walDir.map(files)) {
          walAddedBytes.addAndGet(after.map { case (p, sz) =>
            math.max(0L, sz - b.getOrElse(p, 0L)) }.sum)
          val fresh = after.keySet -- b.keySet
          walNewFiles.addAndGet(fresh.size)
          walCheckpoints.addAndGet(fresh.filter(_.contains("/checkpoint/"))
            .map(p => p.split("/checkpoint/")(1).takeWhile(_ != '/')).size)
        }
      }
    }

    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    var tracedOut: Option[Map[String, Any]] = None
    if (!traced) {
      // ---- measured closed loop: the sessions move through a fixed
      // number of rounds in step — a round ends when every session has
      // finished its part — so every run measures the same operations
      // under the same mix of concurrent work ----
      @volatile var lastRoundEnd = 0L
      val roundEnd = new java.util.concurrent.CyclicBarrier(clients.size,
        () => lastRoundEnd = System.nanoTime())
      val start = System.nanoTime()
      val threads = clients.zipWithIndex.map { case (session, n) =>
        val th = new Thread(() => {
          val c = new BoltClient(port)
          try for (round <- 0 until rounds) {
            session.rounds(round % session.rounds.size).foreach(i => runOne(c, all(i)))
            roundEnd.await()
          } finally c.close()
        }, s"bench-session-$n")
        th.start(); th
      }
      threads.foreach(_.join())
      log(s"measured phase done: ${attempted.get} operations, ${writeLat.size} writes, " +
        s"${walCheckpoints.get} WAL checkpoints, ${walNewFiles.get} new WAL files")
      val reads = readLat.asScala.toSeq
      log("latency by statement (ms): " + latByName.asScala.toSeq.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (n, xs) => f"$n ${xs.map(_._2).map(x => f"$x%.0f").mkString("/")}" }
        .mkString(", "))
      e2e ++= Seq(
        "setup_s" -> setupS,
        "read_ops_per_s" -> reads.size / ((lastRoundEnd - start) / 1e9),
        "read_p50_ms" -> median(reads),
        "peak_rss_mb" -> vmHwmMb)
    } else {
      def cachedMb: Double =
        sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
      val rddsStart = sc.getPersistentRDDs.size
      val cachedStart = cachedMb
      val gcStart = gcMs
      val firstRound = clients.flatMap(_.rounds.head).distinct
      val writes = clients.filter(_.writer).flatMap(_.rounds.head)
      val (m, spansJson) = traceRound(spark, fx.store, port, all,
        firstRound.filterNot(all(_).write), writes, listener, runOne _)
      val nWrites = writeLat.size.toDouble
      def perWrite(n: AtomicLong): Double = if (nWrites == 0) 0.0 else n.get / nWrites
      layers ++= Seq(
        "bolt.write_ms" -> (if (nWrites == 0) 0.0 else writeLat.asScala.sum / nWrites),
        "sources.response_kb" -> readBytes.get / 1024.0 / math.max(1, readLat.size),
        "graph.wal_kb_per_write" -> perWrite(walAddedBytes) / 1024.0,
        "graph.wal_files_per_write" -> perWrite(walNewFiles),
        "graph.wal_checkpoints" -> walCheckpoints.get.toDouble,
        "graph.persistent_rdds" -> (sc.getPersistentRDDs.size - rddsStart).toDouble,
        "graph.cached_mb" -> (cachedMb - cachedStart),
        "graph.build_s" -> median(buildS.toSeq),
        "jvm.gc_ms" -> (gcMs - gcStart).toDouble,
        "jvm.heap_after_gc_mb" -> heapAfterGcMb)
      layers ++= m
      tracedOut = Some(spansJson)
    }

    // ---- store checks: seed counts restored, WAL replays to live ----
    val storeCheck: Map[String, Any] = fx.walDir match {
      case Some(dir) =>
        val g = fx.store.snapshot
        val replayed = GraphStore.loadWal(spark, dir, registerGlobal = false).snapshot
        Map("nodes" -> g.nodes.count(), "edges" -> g.edges.count(),
          "replay_nodes" -> replayed.nodes.count(), "replay_edges" -> replayed.edges.count())
      case None => Map.empty
    }

    fx.server.stop()
    val result = Map(
      "e2e" -> e2e.asJava,
      "layers" -> layers.asJava,
      "attempted" -> attempted.get,
      "bolt_failed" -> failed.get,
      "warmup_failures" -> warmFailures,
      "failures" -> failures.asScala.take(5).toSeq.asJava,
      "store" -> storeCheck.asJava,
      "answers" -> answers.asScala.map { case (k, m) =>
        k -> m.values.asScala.map { case (n, rows) =>
          Map("n" -> n.get, "rows" -> rows).asJava }.toSeq.asJava }.asJava,
      "trace" -> tracedOut.map(_.asJava).orNull)
    json.writeValue(out, result.asJava)
    spark.stop()
  }

  // ------------------------------------------------------- traced round --

  /** Replays one round of the mix. Each read runs three ways: over Bolt
    * (untraced client latency), in process untraced, and in process with
    * one span per layer call — so wire time and tracing overhead are both
    * differences of measured times. Writes run over Bolt, then traced.
    */
  private def traceRound(spark: SparkSession, store: GraphStore, port: Int,
      all: IndexedSeq[Stmt], reads: Seq[Int], writes: Seq[Int],
      listener: SpanListener, bolt: (BoltClient, Stmt) => Unit)
      : (Map[String, Double], Map[String, Any]) = {
    val sc = spark.sparkContext
    val tracer = new Tracer(sc)
    val client = new BoltClient(port)
    val warmS = {
      val t0 = System.nanoTime()
      if (reads.exists(i => all(i).layer.startsWith("algos")))
        graft.algos.GraphXAlgos.warm(store.snapshot)
      secs(t0)
    }
    final case class ReadTrace(s: Stmt, boltMs: Double, plainMs: Double,
        root: Span, rows: Long, planNodes: Int)
    val readTraces = reads.map { i =>
      val s = all(i)
      val t0 = System.nanoTime()
      bolt(client, s)
      val boltMs = (System.nanoTime() - t0) / 1e6
      val t1 = System.nanoTime()
      Cypher.run(store.snapshot, s.text, s.params).collect()
        .foreach(row => PackStream.encodeRecord(row.toSeq.map(boltValue)))
      val plainMs = (System.nanoTime() - t1) / 1e6
      var nRows = 0L
      var planNodes = 0
      val (_, root) = tracer.statement(s.name) {
        val g = store.snapshot
        val ast = tracer.span("parse", "cypher")(Parser.parse(s.text))
        val df = tracer.span("plan", "cypher")(Planner.plan(g, ast, s.params))
        val qe = df.queryExecution
        tracer.span("analyze", "catalyst")(qe.analyzed)
        val opt = tracer.span("optimize", "catalyst")(qe.optimizedPlan)
        planNodes = opt.collect { case p => p }.size
        tracer.span("physical", "catalyst")(qe.executedPlan)
        val rows = tracer.span("collect", "exec")(df.collect())
        nRows = rows.length
        tracer.span("encode", "sources")(
          rows.foreach(row => PackStream.encodeRecord(row.toSeq.map(boltValue))))
      }
      ReadTrace(s, boltMs, plainMs, root, nRows, planNodes)
    }
    final case class WriteTrace(root: Span, partitions: Int, leaves: Int)
    writes.foreach(i => bolt(client, all(i)))
    val writeTraces = writes.map(all(_)).map { s =>
      val (_, root) = tracer.statement(s.name) {
        tracer.span("write", "cypher")(CypherWrite.execute(store, s.text, s.params))
      }
      val g = store.snapshot
      WriteTrace(root,
        g.nodes.rdd.getNumPartitions + g.edges.rdd.getNumPartitions,
        g.nodes.queryExecution.logical.collectLeaves().size +
          g.edges.queryExecution.logical.collectLeaves().size)
    }
    client.close()
    listener.drain()
    sc.setLocalProperty(Tracer.Prop, null)

    def kid(root: Span, name: String): Option[Span] =
      tracer.childrenOf(root.id).find(_.name == name)
    def work(sp: Option[Span]): SpanWork =
      sp.flatMap(x => Option(listener.work.get(x.id))).getOrElse(new SpanWork)
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def phaseMs(name: String): Double =
      mean(readTraces.map(t => kid(t.root, name).map(_.ms).getOrElse(0.0)))
    def stmtWork(root: Span): Seq[SpanWork] =
      tracer.childrenOf(root.id).map(c => work(Some(c)))
    val collects = readTraces.map(t => (t, kid(t.root, "collect")))
    val mb = 1048576.0
    def collectSum(f: SpanWork => Long): Double =
      mean(collects.map { case (_, c) => f(work(c)).toDouble })
    val rowsRead = collects.map { case (_, c) => work(c).rowsRead.get }.sum
    val rowsOut = readTraces.map(_.rows).sum
    val self = tracer.selfMs
    def layerSelf(layer: String): Double =
      tracer.spans.filter(_.layer == layer).map(s => self(s.id)).sum /
        math.max(1, readTraces.size + writeTraces.size)

    val m = mutable.LinkedHashMap[String, Double](
      "sources.wire_ms" -> mean(readTraces.map(t => t.boltMs - t.plainMs)),
      "sources.encode_ms" -> phaseMs("encode"),
      "cypher.parse_ms" -> phaseMs("parse"),
      "cypher.plan_ms" -> phaseMs("plan"),
      "cypher.plan_jobs" -> mean(readTraces.map(t => work(kid(t.root, "plan")).jobs.get.toDouble)),
      "cypher.write_ms" -> mean(writeTraces.map(w => kid(w.root, "write").map(_.ms).getOrElse(0.0))),
      "cypher.write_jobs" -> mean(writeTraces.map(w => work(kid(w.root, "write")).jobs.get.toDouble)),
      "catalyst.analyze_ms" -> phaseMs("analyze"),
      "catalyst.optimize_ms" -> phaseMs("optimize"),
      "catalyst.physical_ms" -> phaseMs("physical"),
      "catalyst.plan_nodes" -> mean(readTraces.map(_.planNodes.toDouble)),
      "exec.collect_ms" -> phaseMs("collect"),
      "exec.jobs" -> collectSum(_.jobs.get),
      "exec.stages" -> collectSum(_.stages.get),
      "exec.tasks" -> collectSum(_.tasks.get),
      "exec.task_run_ms" -> collectSum(_.taskRunMs.get),
      "exec.task_gc_ms" -> collectSum(_.taskGcMs.get),
      "exec.driver_idle_ms" -> mean(collects.map { case (_, c) =>
        c.map(sp => Tracer.idleMs(sp.startMs, sp.ms, work(c))).getOrElse(0.0) }),
      "exec.shuffle_read_mb" -> collectSum(_.shuffleRead.get) / mb,
      "exec.shuffle_write_mb" -> collectSum(_.shuffleWrite.get) / mb,
      "exec.spill_mb" -> collectSum(_.spill.get) / mb,
      "exec.rows_returned" -> rowsOut.toDouble / math.max(1, readTraces.size),
      "exec.rows_read_per_row_returned" -> rowsRead.toDouble / math.max(1L, rowsOut),
      "graph.snapshot_partitions" -> mean(writeTraces.map(_.partitions.toDouble)),
      "graph.snapshot_plan_leaves" -> mean(writeTraces.map(_.leaves.toDouble)),
      "algos.warm_s" -> warmS)
    for (proc <- Seq("wcc", "pagerank", "linkpred")) {
      val ts = readTraces.filter(_.s.layer == s"algos:$proc")
      m(s"algos.${proc}_ms") = mean(ts.map(_.root.ms))
      m(s"algos.${proc}_jobs") = mean(ts.map(t => stmtWork(t.root).map(_.jobs.get).sum.toDouble))
      m(s"algos.${proc}_shuffle_mb") = mean(ts.map(t => stmtWork(t.root)
        .map(w => w.shuffleRead.get + w.shuffleWrite.get).sum / mb))
    }
    for (kind <- Seq("vector", "fulltext", "hybrid"))
      m(s"search.${kind}_ms") =
        mean(readTraces.filter(_.s.layer == s"search:$kind").map(_.root.ms))
    val overhead = mean(readTraces.map(t => t.root.ms - t.plainMs))
    m("trace.overhead_ms") = overhead
    m("trace.overhead_pct") = 100.0 * overhead / math.max(1e-9, mean(readTraces.map(_.plainMs)))
    m("trace.statements") = (readTraces.size + writeTraces.size).toDouble
    for (layer <- Seq("harness", "cypher", "catalyst", "exec", "sources"))
      m(s"trace.self_ms.$layer") = layerSelf(layer)

    val spansOut = Map[String, Any](
      "spans" -> tracer.spans.map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "stmt" -> s.stmt, "name" -> s.name,
          "layer" -> s.layer, "start_ms" -> s.startMs, "dur_ms" -> s.ms,
          "self_ms" -> self(s.id),
          "jobs" -> Option(listener.work.get(s.id)).map(_.jobs.get).getOrElse(0L)).asJava
      }.asJava,
      "statements" -> readTraces.map(t => Map("name" -> t.s.name, "key" -> t.s.key,
        "bolt_ms" -> t.boltMs, "plain_ms" -> t.plainMs, "traced_ms" -> t.root.ms,
        "rows" -> t.rows).asJava).asJava)
    (m.toMap, spansOut)
  }
}
