package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftExtensions
import graft.ops.{Cluster, Compact, Expire, ManifestRewrite, Merge}
import graft.run.Synth
import graft.table.{FileIO, GraftTable}

/**
 * The benchmark's JVM program. One run stages its inputs from the seed, builds
 * the page table from many small files (several times: the set-up), then, in
 * one closed loop on one driver thread, runs the phases of a table's life and
 * checks every output:
 *
 *  - maintain: compact, Z-order cluster, manifest rewrite and expiry, then
 *    fixed url and lang/warc_ts probes;
 *  - upsert, in cycles: a latest-wins copy-on-write merge batch, then a
 *    merge-on-read batch, each followed by SQL url point lookups, then a
 *    delete-pressure compaction (and, on some shapes, another maintain
 *    pass on a spare set-up table);
 *  - lifecycle (traced runs only): table-lifecycle contract queries, whose
 *    results are written for the DuckDB oracle check.
 *
 * Usage: Main <workload> <seed> <seconds> <trace 0|1> <work dir> <result file>
 * The workload names an input shape (see [[Shape]]). Everything the run
 * writes stays under the work dir; the caller deletes it.
 */
object Main {

  /** Input shape of a workload. */
  final case class Shape(
      pages: Long, // rows of the page table
      htmlRepeatMax: Int, // Synth html size: 32-byte blocks in [4, max)
      files: Int, // small files the page table is built from
      setups: Int, // table builds per run; setup_s is their median
      maintainPasses: Int, // timed compact + cluster passes, one per set-up table; maintain_gbps is their median
      cycles: Int, // upsert cycles: a copy-on-write batch, a merge-on-read batch, a delete-pressure compaction
      cowLookups: Int, // SQL point lookups after each copy-on-write batch
      morLookups: Int, // SQL point lookups after each merge-on-read batch
      customers: Long) // lifecycle input: customer rows (orders 10x)

  /** Lifecycle queries of traced runs: positional merge-on-read DML (sql)
    * and distributed CDC apply (streaming). */
  val lifecycleQueries: Seq[String] = Seq("q43", "q47")

  val shapes: Map[String, Shape] = Map(
    "small" -> Shape(6000, 96, 24, 3, 3, 3, 6, 4, 150),
    "large" -> Shape(24000, 96, 24, 3, 1, 3, 6, 4, 150),
    "smoke" -> Shape(1000, 16, 8, 2, 2, 1, 4, 4, 40))

  /** Spark task slots. The driver thread, the JIT compiler and the garbage
    * collector need CPUs too; with 4 slots on a 4-vCPU host they queue
    * behind the tasks and the timings measure the scheduler. */
  val Cores = 2

  val Hosts = 1000
  val ZipfS = 1.2
  val TargetFileBytes: Long = 8L << 20

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-perfbench")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (16L << 20).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 6,
      "usage: Main <workload> <seed> <seconds> <trace 0|1> <work dir> <result file>")
    val Array(workload, seedS, secondsS, traceS, work, resultFile) = args
    val shape = shapes.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload '$workload' (${shapes.keys.mkString(", ")})"))
    // everything the session writes lives under the work dir, which the
    // caller deletes: skip the orderly shutdown, it only costs wall time
    val code = try {
      val spark = session(work)
      val json = new Run(spark, shape, seedS.toLong, secondsS.toDouble, traceS == "1", work).execute()
      Files.write(Paths.get(resultFile), (json + "\n").getBytes("UTF-8"))
      0
    } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(code)
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

/** A table's content fingerprint: row count and xor of per-row hashes. */
final case class Sum(rows: Long, xor: Long)

/** One benchmark run. */
final class Run(spark: SparkSession, shape: Main.Shape, seed: Long, seconds: Double,
    trace: Boolean, work: String) {
  import Main._

  private val tracer = new Tracer(spark, s"run-$seed-${System.currentTimeMillis()}", trace)
  private val rnd = new scala.util.Random(seed)
  private var attempted = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  private val info = mutable.LinkedHashMap.empty[String, Double]

  private val t00 = System.nanoTime()
  private def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t00) / 1e9}%7.1fs $msg")

  /** Record one checked operation outcome. */
  private def check(what: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) {
      failures += s"$what $detail".trim
      System.err.println(s"[perfbench] CHECK FAILED: $what $detail")
    }
  }

  private def rowHash: Column = xxhash64(col("url"), col("text"))

  private def fingerprint(df: DataFrame): Sum = {
    val r = df.agg(count(lit(1)), coalesce(bit_xor(rowHash), lit(0L))).first()
    Sum(r.getLong(0), r.getLong(1))
  }

  private def tableSum(tbl: GraftTable, snapshotId: Option[Long] = None): Sum =
    tracer.span("table", "checksum") { fingerprint(tbl.read(None, snapshotId)) }

  private def pages(n: Long, versions: Int = 1, partitions: Int = 0): DataFrame =
    Synth.pages(spark, n, versions = versions, hosts = Hosts, seed = seed, zipfS = ZipfS,
      htmlRepeatMax = shape.htmlRepeatMax, partitions = partitions)

  private def dirBytes(dir: String): Long =
    FileIO.listFilesRecursively(dir, ".parquet").map(p => Files.size(Paths.get(p))).sum

  // ---- upsert plan: a driver-side model of the latest-wins table state ----

  /** One merge batch: keys set to version `b`, deletions, and lookups. */
  final case class Batch(b: Int, mor: Boolean, updates: Seq[Long], inserts: Seq[Long],
      deletes: Seq[Long], lookups: Seq[Long])

  /** Live version per url id after each batch, from the plan alone. */
  final class Plan(val batches: Seq[Batch], val states: Seq[Map[Long, Int]], val idHi: Long)

  private def makePlan(): Plan = {
    var live: Map[Long, Int] = (0L until shape.pages).map(_ -> 0).toMap
    var nextId = shape.pages
    val states = mutable.ArrayBuffer(live)
    val nBatches = 2 * shape.cycles
    val batches = (1 to nBatches).map { b =>
      val m = math.max(4, math.round(0.005 * live.size).toInt)
      val liveIds = live.keys.toVector
      val picked = rnd.shuffle(liveIds).take(m / 2 + m / 10)
      val updates = picked.take(m / 2)
      val deletes = picked.drop(m / 2)
      val inserts = (nextId until nextId + (m - updates.size - deletes.size)).toVector
      nextId += inserts.size
      live = live ++ updates.map(_ -> b) ++ inserts.map(_ -> b) -- deletes
      states += live
      val touched = rnd.shuffle(updates ++ inserts ++ deletes)
      val mor = b % 2 == 0 // each cycle: copy-on-write, then merge-on-read
      val nLookups = if (mor) shape.morLookups else shape.cowLookups
      val nTouched = nLookups / 2
      val lookups = touched.take(nTouched) ++
        Seq.fill(nLookups - math.min(nTouched, touched.size))(
          (rnd.nextDouble() * nextId).toLong)
      Batch(b, mor, updates, inserts, deletes, rnd.shuffle(lookups))
    }
    new Plan(batches, states.toSeq, nextId)
  }

  /** Inputs staged once per run from the seed. */
  final class Inputs(val pagesDir: String, val stageDir: String, val tpchDir: String,
      val urls: Array[String], val hashes: Map[(Long, Int), Long],
      val texts: Map[(Long, Int), String], val baseSum: Sum)

  private val plan = makePlan()

  /** The page rows, every merge batch, the lifecycle input, and the expected
    * values the checks compare against, all from the seed. */
  private def stage(): Inputs = {
    val pagesDir = s"$work/stage/pages"
    val stageDir = s"$work/stage/batches"
    val tpchDir = s"$work/stage/tpch"
    pages(shape.pages, partitions = 16).write.parquet(pagesDir)
    log("staged pages")
    // url of every id the plan touches; url = prefix + host + "/p/" + id
    val urls = new Array[String](plan.idHi.toInt)
    pages(plan.idHi).select("url").collect().foreach { r =>
      val u = r.getString(0)
      urls(u.substring(u.lastIndexOf('/') + 1).toInt) = u
    }
    // every merge batch, in one generator pass: batch b sets its keys to
    // version b (deletes carry a newer warc_ts too, so latest-wins applies)
    val nVersions = plan.batches.size + 1
    val planRows = plan.batches.flatMap { bt =>
      (bt.updates ++ bt.inserts).map(i => (urls(i.toInt), bt.b, bt.b, false)) ++
        bt.deletes.map(i => (urls(i.toInt), bt.b, bt.b, true))
    }
    import spark.implicits._
    val planDf = planRows.toDF("url", "version", "batch", "_deleted")
    val versioned = pages(plan.idHi, versions = nVersions)
      .filter(col("url").isInCollection(planRows.map(_._1).distinct))
      .withColumn("version", (row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("url").orderBy("warc_ts")) - 1).cast("int"))
    versioned.join(planDf, Seq("url", "version"))
      .select("batch", "url", "warc_ts", "html", "text", "lang", "_deleted")
      .repartition(col("batch"))
      .write.partitionBy("batch").parquet(stageDir)
    log("staged batches")
    // hashes of every (id, version) image the checks need, from Synth's own
    // text expression: removed images (old versions) and written images
    val images = plan.batches.flatMap { bt =>
      val before = plan.states(bt.b - 1)
      (bt.updates ++ bt.deletes).map(i => i -> before(i)) ++ (bt.updates ++ bt.inserts).map(i => i -> bt.b)
    } ++ plan.batches.flatMap { bt =>
      val after = plan.states(bt.b)
      bt.lookups.flatMap(i => after.get(i).map(v => i -> v))
    }
    val imageDf = images.distinct.map { case (i, v) => (i, v, urls(i.toInt)) }.toDF("id", "version", "url")
      .withColumn("text", Synth.textExpr(col("url"), col("version")))
      .select(col("id"), col("version"), rowHash.as("h"), col("text"))
    val rows = imageDf.collect()
    val hashes = rows.map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val texts = rows.map(r => (r.getLong(0), r.getInt(1)) -> r.getString(3)).toMap
    val baseSum = fingerprint(spark.read.parquet(pagesDir))
    log("staged expected values")
    if (trace) graftbench.TpchGen.write(spark, tpchDir, shape.customers, seed)
    new Inputs(pagesDir, stageDir, tpchDir, urls, hashes, texts, baseSum)
  }

  /** The set-up that is timed: a page table built from many small files. */
  private def buildTable(k: Int, in: Inputs): GraftTable = {
    val tbl = GraftTable.create(spark, s"$work/tables/pages-$k", Synth.pageSchema)
    tracer.span("table", "append") {
      tbl.append(spark.read.schema(Synth.pageSchema).parquet(in.pagesDir).repartition(shape.files))
    }
    tbl
  }

  /** Fold removed and written images into the expected fingerprint. */
  private def expectedAfter(st: Inputs, prev: Sum, bt: Batch): Sum = {
    val before = plan.states(bt.b - 1)
    val removed = (bt.updates ++ bt.deletes).map(i => st.hashes((i, before(i))))
    val written = (bt.updates ++ bt.inserts).map(i => st.hashes((i, bt.b)))
    Sum(prev.rows + bt.inserts.size - bt.deletes.size,
      (removed ++ written).foldLeft(prev.xor)(_ ^ _))
  }

  // ---- maintain ------------------------------------------------------------

  /** Fixed probes: url equality, and lang with a one-day warc_ts window. */
  private def probes(st: Inputs, n: Int): Seq[(String, Column)] = {
    val r = new scala.util.Random(seed + 1)
    val urlProbes = Seq.fill(n)(r.nextInt(shape.pages.toInt)).distinct.map { i =>
      s"url=$i" -> (col("url") === st.urls(i))
    }
    val base = 1735689600L // Synth's first warc_ts, 2025-01-01
    val tsProbes = (0 until n).map { _ =>
      val lang = Synth.langs(r.nextInt(6))
      val t0 = base + r.nextInt(29) * 86400L
      s"lang=$lang,day=${(t0 - base) / 86400}" ->
        (col("lang") === lang && col("warc_ts") >= timestamp_seconds(lit(t0)) &&
          col("warc_ts") < timestamp_seconds(lit(t0 + 86400L)))
    }
    urlProbes ++ tsProbes
  }

  /** Every probe's fingerprint from one unpruned scan. */
  private def probeSumsByScan(tbl: GraftTable, ps: Seq[(String, Column)]): Seq[Sum] = {
    val aggs = ps.flatMap { case (_, p) =>
      Seq(count(when(p, 1)), coalesce(bit_xor(when(p, rowHash)), lit(0L)))
    }
    val r = tbl.read().agg(aggs.head, aggs.tail: _*).first()
    ps.indices.map(i => Sum(r.getLong(2 * i), r.getLong(2 * i + 1)))
  }

  final case class Cycle(gbps: Double, bytesRatio: Double, probeFiles: Double,
      filesLive: Int, manifests: Int)

  /** Compaction (orderBy url) then Z-order clustering, each timed, with
    * `between` run untimed in between. Returns `Bench`'s GB/s:
    * (input bytes + compacted bytes) / (compact s + cluster s). */
  private def compactCluster(tbl: GraftTable)(between: => Unit): Double = {
    val inputBytes = tbl.files().map(_.bytes).sum
    val (c, tCompact) = time {
      tracer.span("ops", "compact") {
        Compact.run(tbl, targetBytes = TargetFileBytes, orderBy = Some("url"), jobParallelism = 4)
      }
    }
    check("compact committed", c.nonEmpty)
    val compactedBytes = tbl.files().map(_.bytes).sum
    between
    val (z, tCluster) = time {
      tracer.span("ops", "cluster") {
        Cluster.zorderRewrite(tbl, Cluster.ZDims(), targetFileBytes = TargetFileBytes,
          saltThresholdRows = shape.pages / 4)
      }
    }
    check("cluster committed", z.nonEmpty)
    (inputBytes + compactedBytes).toDouble / (1L << 30) / (tCompact + tCluster)
  }

  /** A timed compact + cluster pass on a spare set-up table, which must
    * still hold the generator's rows after it. */
  private def maintainPass(tbl: GraftTable, st: Inputs): Double = {
    val gbps = compactCluster(tbl)(())
    val after = tableSum(tbl)
    check("compact and cluster preserve rows", after == st.baseSum, s"$after vs ${st.baseSum}")
    gbps
  }

  /** The maintenance cycle, its checks, and the layout's read cost. */
  private def maintainCycle(tbl: GraftTable, st: Inputs): Cycle = {
    val ps = probes(st, 3)
    val before = tableSum(tbl)
    check("table build matches generator", before == st.baseSum, s"$before vs ${st.baseSum}")
    val probesBefore = probeSumsByScan(tbl, ps)
    val inputBytes = tbl.files().map(_.bytes).sum
    val gbps = compactCluster(tbl) {
      val zsum = tracer.span("functions", "zkey") {
        val df = tbl.read()
        Cluster.withZKey(df, Cluster.ZDims(), Cluster.computeBounds(df), Nil, 16)
          .agg(count(lit(1)), bit_xor(xxhash64(col("_zkey")))).first()
      }
      check("zkey covers every row", zsum.getLong(0) == before.rows)
    }
    val live = tbl.files().map(_.path).toSet
    tracer.span("ops", "manifest_rewrite") { ManifestRewrite.run(tbl) }
    check("manifest rewrite keeps files", tbl.files().map(_.path).toSet == live)
    tracer.span("ops", "expire") { Expire.expire(tbl, retainLast = 1) }
    val after = tableSum(tbl)
    check("maintenance preserves rows", after == before, s"$after vs $before")
    ps.zip(probesBefore).foreach { case ((name, p), want) =>
      val got = tracer.span("table", "probe") { fingerprint(tbl.read(Some(p))) }
      check(s"probe $name", got == want, s"$got vs $want")
    }
    // files each of 32 probes plans: metadata only, so many probes are cheap
    val probeFiles = probes(st, 16).map { case (_, p) =>
      tracer.span("table", "plan_files") { tbl.planFiles(Some(p)) }.size.toDouble
    }
    Cycle(gbps, tbl.files().map(_.bytes).sum.toDouble / inputBytes,
      probeFiles.sum / probeFiles.size, tbl.files().size, tbl.currentSnapshot.get.manifests.size)
  }

  // ---- upsert --------------------------------------------------------------

  final case class BatchResult(mor: Boolean, mergeS: Double, lookupMs: Seq[Double],
      writeAmp: Double, touched: Int, dvFiles: Int, dvRows: Long)

  /** The upsert cycles. Host speed on a shared machine drifts over tens of
    * seconds, so each cycle takes one sample of every upsert metric, and a
    * metric's median spans the whole run instead of one phase of it.
    * `afterCycle(c)` runs after cycle c. Returns the batches and the
    * delete-pressure compactions' seconds. */
  private def upsert(tbl: GraftTable, st: Inputs)(afterCycle: Int => Unit): (Seq[BatchResult], Seq[Double]) = {
    var expected = st.baseSum
    val tDv = mutable.ArrayBuffer.empty[Double]
    val results = plan.batches.map { bt =>
      val src = spark.read.parquet(s"${st.stageDir}/batch=${bt.b}")
      val changeBytes = dirBytes(s"${st.stageDir}/batch=${bt.b}")
      // a per-layer figure only: untraced runs skip it
      val touched = if (!trace) Nil else tracer.span("ops", "touched_files") {
        Merge.touchedFiles(tbl, src.select("url"), Seq("url"))
      }
      val pre = tbl.currentSnapshot.get.id
      val preFiles = tbl.files().map(f => f.path -> f.bytes).toMap
      val preDvs = tbl.positionDeletes().map(_.path).toSet
      val mode = if (bt.mor) "merge-on-read" else "copy-on-write"
      val (_, tMerge) = time {
        tracer.span("ops", if (bt.mor) "merge_mor" else "merge_cow") {
          Merge.into(tbl, src, Seq("url"), mode = mode)
        }
      }
      val written = tbl.files().filterNot(f => preFiles.contains(f.path)).map(_.bytes).sum +
        tbl.positionDeletes().filterNot(d => preDvs.contains(d.path)).map(_.bytes).sum
      val want = expectedAfter(st, expected, bt)
      val got = tableSum(tbl)
      check(s"batch ${bt.b} ($mode) latest-wins state", got == want, s"$got vs $want")
      check(s"batch ${bt.b} pinned reader", tableSum(tbl, Some(pre)) == expected)
      expected = want
      val dvs = tbl.positionDeletes()
      val state = plan.states(bt.b)
      val lookupMs = bt.lookups.map { i =>
        val u = st.urls(i.toInt)
        tracer.span("table", "plan_files") { tbl.planFiles(Some(col("url") === u)) }
        val (rows, t) = time {
          tracer.span("sources", if (bt.mor) "lookup_dv" else "lookup") {
            spark.sql(s"SELECT url, text FROM graft.`${tbl.root}` WHERE url = '$u'").collect()
          }
        }
        val ok = state.get(i) match {
          case Some(v) => rows.length == 1 && rows(0).getString(1) == st.texts((i, v))
          case None => rows.isEmpty
        }
        check(s"lookup $i after batch ${bt.b}", ok, s"${rows.length} rows")
        t * 1000
      }
      log(f"batch ${bt.b} $mode: merge $tMerge%.2fs, lookup median ${median(lookupMs)}%.0fms")
      if (bt.mor) {
        val c = bt.b / 2
        check(s"batch ${bt.b} left deletion vectors", dvs.nonEmpty)
        val (snap, t) = time {
          tracer.span("ops", "dv_compact") {
            Compact.run(tbl, targetBytes = TargetFileBytes, deleteRatioThreshold = 1e-9)
          }
        }
        check(s"delete-pressure compaction $c committed", snap.nonEmpty)
        check(s"delete-pressure compaction $c cleared DVs", tbl.positionDeletes().isEmpty)
        check(s"delete-pressure compaction $c preserves rows", tableSum(tbl) == expected)
        log(f"delete-pressure compaction $c: $t%.2fs")
        tDv += t
        afterCycle(c)
      }
      BatchResult(bt.mor, tMerge, lookupMs, written.toDouble / math.max(1L, changeBytes),
        touched.size, dvs.size, dvs.map(_.rows).sum)
    }
    (results, tDv.toSeq)
  }

  // ---- lifecycle -----------------------------------------------------------

  /** One pass over the lifecycle queries; results go to `outDir/<query>`. */
  private def lifecyclePass(st: Inputs, outDir: String): Seq[(String, Double)] = {
    val qs = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => lifecycleQueries.exists(name.startsWith) }
    qs.map { case (name, fn) =>
      val layer = if (name.startsWith("q47")) "streaming" else "sql"
      val (rows, t) = time {
        tracer.span(layer, name.take(3)) {
          val df = fn(spark, st.tpchDir)
          (df.schema, df.collect())
        }
      }
      spark.createDataFrame(rows._2.toSeq.asJava, rows._1).coalesce(1)
        .write.parquet(s"$outDir/$name")
      name -> t
    }
  }

  // ---- the run -------------------------------------------------------------

  def execute(): String = {
    val runT0 = System.nanoTime()
    val (in, tStage) = time(tracer.suspended(stage()))
    info("stage_s") = tStage
    log(f"staged inputs in $tStage%.1fs")
    val setups = (1 to shape.setups).map(k => time(buildTable(k, in)))
    val tbl = setups.head._1
    val spares = setups.tail.map(_._1)
    info("setup_each_s_max") = setups.map(_._2).max
    info("setup_each_s_min") = setups.map(_._2).min
    val (_, tWarm) = time(tracer.suspended(warmUp(tbl, in)))
    info("warmup_s") = tWarm
    log(f"set-ups ${setups.map(t => f"${t._2}%.1f").mkString(", ")}s, warm-up $tWarm%.1fs")

    val window0 = System.nanoTime()
    // a single 3-second pass of job-bound work is too noisy to bound, so a
    // shape may time compact + cluster on the spare set-up tables too, one
    // pass after each upsert cycle, spread over the run like the upserts
    val spareTables = mutable.Queue(spares.take(shape.maintainPasses - 1): _*)
    spares.drop(shape.maintainPasses - 1).foreach(t => FileIO.deleteRecursively(t.root))
    val cycle = maintainCycle(tbl, in)
    val gbps = mutable.ArrayBuffer(cycle.gbps)
    val (batches, tDv) = upsert(tbl, in) { _ =>
      if (spareTables.nonEmpty) {
        val t = spareTables.dequeue()
        gbps += maintainPass(t, in)
        FileIO.deleteRecursively(t.root)
      }
    }
    require(spareTables.isEmpty, "more maintain passes than upsert cycles")
    log(f"maintain: ${gbps.map(g => f"$g%.4f").mkString(", ")} GB/s")
    log("upsert done")
    // --seconds is a floor on the measured window: closed-loop lookups on
    // the final table fill any time the fixed work above leaves
    var extra = 0
    while ((System.nanoTime() - window0) / 1e9 < seconds) {
      val i = rnd.nextInt(shape.pages.toInt).toLong
      val rows = spark.sql(s"SELECT url, text FROM graft.`${tbl.root}` WHERE url = '${in.urls(i.toInt)}'").collect()
      check(s"extra lookup $i", plan.states.last.get(i).isDefined == (rows.length == 1))
      extra += 1
    }
    val windowS = (System.nanoTime() - window0) / 1e9
    info("window_s") = windowS
    info("extra_lookups") = extra
    // the lifecycle queries run in traced runs only, after every end-to-end
    // measurement: they feed per-layer metrics (sql, streaming), and are too
    // slow and too noisy on a shared 4-vCPU host to bound end to end
    if (trace) {
      val lifeDir = s"$work/lifecycle"
      val (pass, tLife) = time(lifecyclePass(in, lifeDir))
      info("lifecycle_pass_s") = tLife
      log(s"lifecycle pass ${pass.map { case (q, t) => f"$q $t%.1fs" }.mkString(", ")}")
      writeOracle(lifeDir, in.tpchDir)
    }
    tracer.finish()

    val cow = batches.filterNot(_.mor)
    val mor = batches.filter(_.mor)
    val e2e = Seq(
      ("setup_s", median(setups.map(_._2)), "s"),
      ("maintain_gbps", median(gbps.toSeq), "GB/s"),
      ("maintain_bytes_ratio", cycle.bytesRatio, "ratio"),
      ("probe_files_mean", cycle.probeFiles, "files"),
      ("merge_cow_p50_s", median(cow.map(_.mergeS)), "s"),
      ("merge_mor_p50_s", median(mor.map(_.mergeS)), "s"),
      ("lookup_p50_ms", median(cow.flatMap(_.lookupMs)), "ms"),
      ("lookup_dv_p50_ms", median(mor.flatMap(_.lookupMs)), "ms"),
      ("dv_compact_s", median(tDv), "s"))
    info("lookup_samples") = cow.flatMap(_.lookupMs).size
    info("lookup_dv_samples") = mor.flatMap(_.lookupMs).size
    info("run_s") = (System.nanoTime() - runT0) / 1e9
    val layers = if (trace) perLayer(cycle, batches, windowS) else Seq.empty
    if (trace) Files.write(Paths.get(s"$work/spans.jsonl"),
      (tracer.jsonLines.mkString("\n") + "\n").getBytes("UTF-8"))

    def obj(ms: Seq[(String, Double, String)]) = ms.map { case (n, v, u) =>
      s"${jsonString(n)}:{\"value\":$v,\"unit\":${jsonString(u)}}"
    }.mkString("{", ",", "}")
    s"""{"attempted":$attempted,"failed":${failures.size},""" +
      s""""failures":${failures.map(jsonString).mkString("[", ",", "]")},""" +
      s""""end_to_end":${obj(e2e)},"per_layer":${obj(layers)},""" +
      s""""info":${info.map { case (k, v) => s"${jsonString(k)}:$v" }.mkString("{", ",", "}")}}"""
  }

  /** Warm the SQL read path the lookups use, on a fresh table. */
  private def warmUp(tbl: GraftTable, in: Inputs): Unit = {
    for (i <- 0 until 3)
      spark.sql(s"SELECT url, text FROM graft.`${tbl.root}` WHERE url = '${in.urls(i)}'").collect()
  }

  /** The oracle SQL of every query run, and the input it reads. */
  private def writeOracle(dir: String, input: String): Unit = {
    val entries = graft.SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .filter { case (name, _) => lifecycleQueries.exists(name.startsWith) }
      .map { case (name, sql) => s"${jsonString(name)}:${jsonString(sql)}" }
    Files.write(Paths.get(s"$dir/oracle.json"),
      s"""{"input":${jsonString(input)},"queries":${entries.mkString("{", ",", "}")}}\n"""
        .getBytes("UTF-8"))
  }

  // ---- per-layer metrics (traced run) --------------------------------------

  private def perLayer(cycle: Cycle, batches: Seq[BatchResult], windowS: Double): Seq[(String, Double, String)] = {
    val spans = tracer.allSpans
    def named(layer: String, name: String) = spans.filter(s => s.layer == layer && s.name == name)
    def med(ss: Seq[Span], f: Span => Double): Double = if (ss.isEmpty) 0.0 else median(ss.map(f))
    val out = mutable.ArrayBuffer.empty[(String, Double, String)]
    def opCost(key: String, ss: Seq[Span], fields: Seq[String]): Unit = {
      val cs = ss.map(s => s -> tracer.cost(s))
      def m(f: ((Span, SpanCost)) => Double) = if (cs.isEmpty) 0.0 else median(cs.map(f))
      fields.foreach {
        case "s" => out += ((s"$key.s", m(_._1.seconds), "s"))
        case "jobs" => out += ((s"$key.jobs", m(_._2.jobs.toDouble), "count"))
        case "gap_s" => out += ((s"$key.gap_s", m(_._2.gapSeconds), "s"))
        case "task_s" => out += ((s"$key.task_s", m(_._2.taskSeconds), "s"))
        case "shuffle_mb" => out += ((s"$key.shuffle_mb", m(_._2.shuffleMb), "MB"))
        case "spill_mb" => out += ((s"$key.spill_mb", m(_._2.spillMb), "MB"))
        case "occupancy" =>
          out += ((s"$key.occupancy", m { case (s, c) => c.taskSeconds / (Cores * s.seconds) }, "ratio"))
        case "fileio_ops" => out += ((s"$key.fileio_ops", m(_._1.fileIoOps.toDouble), "count"))
      }
    }
    val heavy = Seq("s", "occupancy", "task_s", "shuffle_mb", "spill_mb", "jobs", "gap_s", "fileio_ops")
    opCost("ops.compact", named("ops", "compact"), heavy)
    opCost("ops.cluster", named("ops", "cluster"), heavy)
    opCost("ops.manifest_rewrite", named("ops", "manifest_rewrite"), Seq("s"))
    opCost("ops.expire", named("ops", "expire"), Seq("s", "fileio_ops"))
    opCost("functions.zkey", named("functions", "zkey"), Seq("s"))
    val mergeFields = Seq("s", "jobs", "gap_s", "shuffle_mb", "spill_mb", "fileio_ops")
    opCost("ops.merge_cow", named("ops", "merge_cow"), mergeFields)
    opCost("ops.merge_mor", named("ops", "merge_mor"), mergeFields)
    out += (("ops.merge_cow.write_amp", median(batches.filterNot(_.mor).map(_.writeAmp)), "ratio"))
    out += (("ops.merge_mor.write_amp", median(batches.filter(_.mor).map(_.writeAmp)), "ratio"))
    out += (("ops.touched_files.ms", med(named("ops", "touched_files"), _.seconds * 1000), "ms"))
    out += (("ops.touched_files.count", median(batches.map(_.touched.toDouble)), "files"))
    opCost("ops.dv_compact", named("ops", "dv_compact"), Seq("s", "task_s", "shuffle_mb"))
    val plans = named("table", "plan_files")
    out += (("table.plan_files.ms", med(plans, _.seconds * 1000), "ms"))
    for ((l, samples) <- Seq("lookup" -> batches.filterNot(_.mor), "lookup_dv" -> batches.filter(_.mor))) {
      val lookups = named("sources", l)
      out += ((s"sources.$l.ms", med(lookups, _.seconds * 1000), "ms"))
      out += ((s"sources.$l.p90_ms", percentile(samples.flatMap(_.lookupMs), 0.9), "ms"))
      out += ((s"sources.$l.overhead_ms",
        med(lookups, _.seconds * 1000) - med(plans, _.seconds * 1000), "ms"))
      out += ((s"sources.$l.fileio_ops", med(lookups, _.fileIoOps.toDouble), "count"))
    }
    out += (("table.dv_files", median(batches.filter(_.mor).map(_.dvFiles.toDouble)), "files"))
    out += (("table.dv_rows", median(batches.filter(_.mor).map(_.dvRows.toDouble)), "rows"))
    opCost("table.append", named("table", "append"), Seq("s", "fileio_ops"))
    opCost("table.checksum", named("table", "checksum"), Seq("s"))
    out += (("table.files_live", cycle.filesLive.toDouble, "files"))
    out += (("table.manifests", cycle.manifests.toDouble, "count"))
    out += (("table.files_planned", cycle.probeFiles, "files"))
    out += (("lifecycle.s", spans.filter(s => s.layer == "sql" || s.layer == "streaming")
      .map(_.seconds).sum, "s"))
    for (q <- lifecycleQueries) {
      val layer = if (q == "q47") "streaming" else "sql"
      opCost(s"$layer.$q", named(layer, q), Seq("s", "jobs", "gap_s", "fileio_ops"))
    }
    out += (("trace.spans", spans.size.toDouble, "count"))
    out += (("trace.overhead_s", tracer.selfSeconds, "s"))
    out += (("trace.overhead_frac", tracer.selfSeconds / windowS, "ratio"))
    out.toSeq
  }
}
