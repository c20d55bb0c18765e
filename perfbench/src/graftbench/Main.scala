package graftbench

import graft.Tables
import graft.ingest.{DirectoryPageFetcher, ReplayHtml, ReplayJson}
import graft.message.FileMessageSender
import graft.pipeline.ReplayPipeline
import graft.queries.Queries
import graft.store.TableStore
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM: set up once, warm up and check outputs
  * untimed, run ops in a closed loop with one client for the given number
  * of seconds, check again, and write everything measured to one JSON
  * file for `run.py` to reduce.
  *
  *   Main --workload W --seconds S --trace 0|1 --cores C
  *        --data DIR --inputs DIR --work DIR --out FILE
  *        [--queries q1,q2,...] [--warm-replays N]
  */
object Main {
  final case class Op(k: Int, name: String, span: Span, ok: Boolean, error: String,
      gcMs: Long = 0L)

  /** GC time of this JVM so far; in local mode planning and tasks share it. */
  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).sum

  trait Workload {
    def setup(spark: SparkSession): Unit
    /** Untimed pass before the timed loop; returns check results as JSON. */
    def warm(trace: Trace): String
    /** Runs timed op number `k` (0-based within the timed loop). */
    def op(trace: Trace, k: Int): Op
    /** Ops per round: the timed loop stops only at a round boundary. */
    def roundSize: Int
    def available: Int
    /** Untimed checks after the timed loop, as JSON. */
    def finish(): String
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val seconds = opt("seconds").toDouble
    val cores = opt("cores").toInt
    val trace = new Trace(opt("trace") == "1")
    val wl: Workload = opt("workload") match {
      case "replay_feed" => new ReplayFeed(opt("inputs"), opt("work"), opt("warm-replays").toInt)
      case _ => new Mix(opt("queries").split(",").toSeq, opt("data"))
    }

    val spark = Tables.localSession("graftbench", cores)
    wl.setup(spark)
    val sc = spark.sparkContext
    // serial-latency anchor: the floor of one one-task, one-stage job
    val anchor = (1 to 7).map { _ =>
      val t = System.nanoTime()
      sc.parallelize(Seq(1), 1).count()
      (System.nanoTime() - t) / 1e9
    }.min
    val tw = System.nanoTime()
    val warmChecks = wl.warm(trace)
    val warmS = (System.nanoTime() - tw) / 1e9

    trace.attach(sc)
    val ops = mutable.ArrayBuffer.empty[Op]
    // set-up ends here: JVM and Spark start, the set-up proper, the anchor
    // and the untimed warm-up and check pass
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    // whole rounds, a new one started while time is left
    var k = 0
    while (k == 0 || (elapsed < seconds && k + wl.roundSize <= wl.available)) {
      (0 until wl.roundSize).foreach { _ =>
        val gc0 = gcMs()
        val op = wl.op(trace, k)
        ops += op.copy(gcMs = gcMs() - gc0)
        release(sc)
        k += 1
      }
    }
    val timedS = elapsed
    trace.detach()
    val checks = wl.finish()
    val hwmKb = scala.util.Try(scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toLong).getOrElse(-1L)

    val opsJson = ops.map(o =>
      s"[${o.k},${Json.str(o.name)},${o.span.startNs},${o.span.endNs},${o.ok},${Json.str(o.error)},${o.gcMs}]")
    val out =
      s"""{"workload":${Json.str(opt("workload"))},"cores":$cores,""" +
        s""""setup_s":$setupS,"anchor_s":$anchor,"warm_s":$warmS,""" +
        s""""timed_s":$timedS,"vmhwm_kb":$hwmKb,"ops":[${opsJson.mkString(",")}],""" +
        s""""warm_checks":$warmChecks,"checks":$checks,"trace":${trace.toJson}}"""
    Files.write(Paths.get(opt("out")), out.getBytes("UTF-8"))
    spark.stop()
  }

  /** Frees what an op left behind, outside the timed region, as Bench
    * does between queries: persisted blocks, then a GC so the context
    * cleaner reclaims broadcast and shuffle residue before the next op. */
  def release(sc: org.apache.spark.SparkContext): Unit = {
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc()
  }

  def attempt[T](body: => T): Either[String, T] =
    try Right(body)
    catch { case e: Throwable => Left(e.getClass.getSimpleName + ": " + e.getMessage) }

  /** A fixed list of named queries from the program's registry, each op
    * one query: build (`Queries.all(name)(spark, dir)`) then the noop
    * write. The order is fixed: with an order shuffled per seed, the same
    * queries ran up to 25 % faster or slower as a whole, while repeated
    * runs of one order agreed within 2 %. */
  final class Mix(prefixes: Seq[String], data: String) extends Workload {
    private var spark: SparkSession = _
    private val names = {
      val all = Queries.all.keys.toSeq
      prefixes.map(p => all.find(_.startsWith(p + "_")).getOrElse(
        throw new IllegalArgumentException(s"no query $p")))
    }

    def roundSize: Int = names.size
    def available: Int = Int.MaxValue

    def setup(s: SparkSession): Unit = {
      spark = s
      Tables.all.foreach(n => Tables.load(spark, data, n).count())
    }

    def warm(trace: Trace): String = {
      val digests = names.map { n =>
        val d = attempt(Digest.of(Queries.all(n)(spark, data))).fold("ERROR " + _, identity)
        release(spark.sparkContext)
        s"${Json.str(n)}:${Json.str(d)}"
      }
      digests.mkString("{\"digests\":{", ",", "}}")
    }

    def op(trace: Trace, k: Int): Op = {
      val name = names(k % names.size)
      val (res, span) = trace.op(k, name) {
        attempt {
          val df = trace.span("queries.build")(Queries.all(name)(spark, data))
          trace.span("queries.action")(df.write.format("noop").mode("overwrite").save())
        }
      }
      Op(k, name, span, res.isRight, res.left.getOrElse(""))
    }

    def finish(): String = "{}"
  }

  /** The reference flow, one replay per op: listing poll → discover →
    * ingest → createMessage → deliverNext, over a store preloaded with
    * the replay history. */
  final class ReplayFeed(inputs: String, work: String, warmOps: Int) extends Workload {
    private var spark: SparkSession = _
    private var store: TableStore = _
    private var pipeline: ReplayPipeline = _
    private var sender: FileMessageSender = _
    private val root = s"$work/store"
    private val sentPath = s"$work/sent.txt"
    private val pages = new DirectoryPageFetcher(s"$inputs/pages")
    private val ops = Files.list(Paths.get(inputs, "ops")).count().toInt
    private var next = 0
    private val results = mutable.ArrayBuffer.empty[String]

    def roundSize: Int = 1
    def available: Int = ops - warmOps

    private def history: Seq[(Int, String, String, String)] = {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      Files.readAllLines(Paths.get(inputs, "history.jsonl")).asScala.toSeq.map { l =>
        val n = mapper.readTree(l)
        (n.get("replay").asInt, n.get("html").asText, n.get("json").asText,
          n.get("text_data").asText)
      }
    }

    def setup(s: SparkSession): Unit = {
      spark = s
      store = new TableStore(spark, root)
      pipeline = new ReplayPipeline(spark, store)
      sender = new FileMessageSender(sentPath)
      val h = history
      import s.implicits._
      val raw = h.toDF("replay_number", "html", "json", "text_data")
      // the same public parse and write calls ingest makes, batched and
      // hash-partitioned by replay, so each replay partition gets one file
      val htmlDf = ReplayHtml.parse(ReplayHtml.validPages(raw.select("replay_number", "html")))
      val parsed = ReplayJson.parsed(raw.select("replay_number", "json")).cache()
      def perReplay(df: org.apache.spark.sql.DataFrame) =
        df.repartition(s.sparkContext.defaultParallelism, col("replay_number"))
      store.append("replay_main", perReplay(htmlDf.join(ReplayJson.sideCounts(parsed), Seq("replay_number"))))
      store.append("vehicles", perReplay(ReplayJson.vehicles(parsed)))
      store.upsertDPlayers(ReplayJson.dPlayers(parsed))
      store.append("players", perReplay(ReplayJson.players(parsed)))
      store.append("frags", perReplay(ReplayJson.frags(parsed)))
      store.append("messages", perReplay(raw.select(col("replay_number"),
        lit(null).cast("string").as("message"), col("text_data"), lit(true).as("posted"))))
      parsed.unpersist()
    }

    private def replay(trace: Trace, k: Int, name: String): Op = {
      val (res, span) = trace.op(k, name) {
        attempt {
          val session = spark
          import session.implicits._
          val listing = trace.span("pipeline.poll")(
            new DirectoryPageFetcher(s"$inputs/ops/$next").listing().get)
          val id = trace.span("pipeline.discover")(pipeline.discover(Seq(listing).toDF("html"))).get
          val ingested = trace.span("pipeline.ingest") {
            val (html, json) = pages.fetchFn(id).get
            pipeline.ingest(id, html, json)
          }
          trace.span("pipeline.message")(pipeline.createMessage(id))
          val delivered = trace.span("pipeline.deliver")(pipeline.deliverNext(sender))
          (id, ingested, delivered)
        }
      }
      results += (res match {
        case Right((id, i, d)) => s"[$next,$id,$i,$d]"
        case Left(_) => s"[$next,-1,false,false]"
      })
      next += 1
      Op(k, name, span, res.isRight, res.left.getOrElse(""))
    }

    def warm(trace: Trace): String = {
      (0 until warmOps).foreach { i =>
        replay(trace, -1 - i, "warm")
        release(spark.sparkContext)
      }
      "{}"
    }

    def op(trace: Trace, k: Int): Op = replay(trace, k, "replay")

    def finish(): String = {
      def counts(t: String) = store.read(t).groupBy("replay_number").count().collect()
        .map(r => s""""${r.getInt(0)}":${r.getLong(1)}""").mkString("{", ",", "}")
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val messages = store.read("messages").collect().map { r =>
        val top = scala.util.Try {
          val c = mapper.readTree(r.getString(2)).get("cutlets").get(0)
          s"[${c.get("killer").asInt},${c.get("count").asInt}]"
        }.getOrElse("null")
        s""""${r.getInt(0)}":[${r.get(3)},$top]"""
      }
      val sent = if (Files.exists(Paths.get(sentPath)))
        Files.readAllLines(Paths.get(sentPath)).asScala.map(_.takeWhile(_ != '\t')).mkString(",")
      else ""
      val (files, parts, bytes) = walk(Paths.get(root))
      s"""{"ops":[${results.mkString(",")}],""" +
        Seq("replay_main", "vehicles", "players", "frags")
          .map(t => s""""$t":${counts(t)}""").mkString(",") +
        s""","d_players":${store.read("d_players").count()},""" +
        s""""messages":${messages.mkString("{", ",", "}")},"sent":[$sent],""" +
        s""""store":{"files":$files,"partitions":$parts,"bytes":$bytes}}"""
    }
  }

  /** (files, partition directories, bytes) under a directory. */
  def walk(root: Path): (Long, Long, Long) = {
    var files, parts, bytes = 0L
    Files.walk(root).iterator().asScala.foreach { p =>
      if (Files.isRegularFile(p)) { files += 1; bytes += Files.size(p) }
      else if (p.getFileName.toString.contains("=")) parts += 1
    }
    (files, parts, bytes)
  }
}
