package perfbench

import graft.etl.{Embedder, HashEmbedder, HttpEmbedder, Pipeline}
import graft.functions.{Fingerprints, Hashing, TextFunctions => TF}
import graft.operators.{ExtractPipeline, Pairing}
import graft.sources.{PdfSource, VectorCollection}
import graft.stats.LoadStats
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark's one JVM: set up, run one workload for `--seconds`,
  * check every output, print labelled detail lines and, last, one JSON
  * line. `--trace 1` times each layer from the benchmark's side instead. */
object Main {

  val Dim = 1536
  val K = 5
  val Name = "enem"

  /** Stub latency and fault constants (recorded in perfbench/README.md).
    * They are assumptions, not measurements of a hosted API: chosen so
    * that embedding wait is over half of `ingest_s` on
    * `ingest_remote_embed`. There two partitions each send a 64-text
    * batch (2.5 s + 10 ms × 64 = 3.1 s) and then one of ~30 texts (2.8 s),
    * and one of the latter is answered twice: about 8.8 s of embedding.
    * The per-request part dominates, so the wait varies little with how
    * many texts a seed's corpus has. */
  val StubBaseMs = 2500.0
  val StubPerTextMs = 10.0
  val StubFaultOneIn = 3

  /** Zipf exponent of the query draw: an assumption, not fitted to a
    * query log. Over serve_mixed's 64-text pool it gives the top text 25 %
    * of draws and the top eight 63 %. */
  val QuerySkew = 1.1

  val spec = Corpus.Spec(years = Nil, colorsPerDay = 0,
    d1Questions = (85, 95), d2Questions = (80, 90), questionsPerPage = (2, 6),
    stemWords = (15, 120), figureShare = 0.08, nonStandardShare = 0.05)

  /** `loopOps`: the least number of ops in a serve loop (41 holds two
    * appends and enough searches for a tail percentile). `paired` picks
    * a year whose booklets share shuffle partitions two by two. */
  final case class Workload(name: String, years: Int, colors: Int,
      remote: Boolean, serve: Boolean, loopOps: Int = 21,
      corpus: Corpus.Spec = spec, paired: Boolean = false)

  val Workloads: Map[String, Workload] = Seq(
    Workload("ingest_bulk", years = 3, colors = 4, remote = false, serve = false),
    // two booklets per partition keep 68-124 questions between them (over
    // 1,800 generated pairs), so each partition sends two embedding batches
    // at the default batch size of 64; fewer figures narrow that range
    Workload("ingest_remote_embed", years = 1, colors = 2, remote = true, serve = false,
      corpus = spec.copy(d1Questions = (56, 64), d2Questions = (56, 64),
        figureShare = 0.03),
      paired = true),
    Workload("serve_mixed", years = 2, colors = 2, remote = false, serve = true,
      loopOps = 41),
    // not a measured workload: the build runs it once, briefly, to record
    // the class-data-sharing archive every measured JVM then starts from
    Workload("archive", years = 1, colors = 1, remote = true, serve = true,
      loopOps = 1)
  ).map(w => w.name -> w).toMap

  final class Failure(msg: String) extends Exception(msg)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val w = Workloads.getOrElse(args.getOrElse("--workload", ""),
      usage(s"unknown workload; choose one of ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
    val seed = args.get("--seed").map(_.toLong).getOrElse(usage("--seed"))
    val seconds = args.get("--seconds").map(_.toInt).getOrElse(usage("--seconds"))
    val trace = args.getOrElse("--trace", "0") == "1"
    val work = Paths.get(args.getOrElse("--work", usage("--work")))
    val traceOut = args.get("--trace-out").map(Paths.get(_))
    val code = new Run(w, seed, seconds, trace, work, traceOut).run()
    System.exit(code)
  }

  private def usage(what: String): Nothing = {
    System.err.println(s"perfbench: missing or bad argument: $what")
    System.exit(2); throw new IllegalStateException
  }

  def log(s: String): Unit = { println(s"[perfbench] $s"); System.out.flush() }
}

/** Host labels for the run: CPU count, load at start, and the share of CPU
  * time stolen or spent waiting on I/O while the run lasted. */
final class HostLabels {
  private def cpu(): Array[Long] = {
    val l = Files.readAllLines(Paths.get("/proc/stat")).asScala.head
    l.trim.split("\\s+").drop(1).map(_.toLong)
  }
  private val start = scala.util.Try(cpu()).getOrElse(Array.empty[Long])
  val load1: String = scala.util.Try(
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0))
    .getOrElse("n/a")
  def line(): String = {
    val end = scala.util.Try(cpu()).getOrElse(Array.empty[Long])
    val pct =
      if (start.length < 8 || end.length < 8) "n/a n/a"
      else {
        val d = end.zip(start).map { case (a, b) => a - b }
        val tot = math.max(1L, d.sum).toDouble
        f"${100 * d(4) / tot}%.2f ${100 * d(7) / tot}%.2f"
      }
    val Array(io, steal) = pct.split(" ")
    s"host nproc=${Runtime.getRuntime.availableProcessors()} load1_at_start=$load1 " +
      s"iowait_pct=$io steal_pct=$steal"
  }
}

final class Run(w: Main.Workload, seed: Long, seconds: Int, traced: Boolean,
    work: Path, traceOut: Option[Path]) {
  import Main._

  private val host = new HostLabels
  private var attempted = 0L
  private var failed = 0L
  private val problems = mutable.ArrayBuffer[String]()
  private val ingestS = mutable.ArrayBuffer[Double]()
  private val searchMs = mutable.ArrayBuffer[Double]()
  private val roundSetupS = mutable.ArrayBuffer[Double]()
  private val storedBpp = mutable.ArrayBuffer[Double]()
  private var recallHit = 0L
  private var recallAll = 0L

  private def check(ok: Boolean, what: => String): Unit =
    if (!ok) { problems += what; System.err.println(s"[perfbench] CHECK FAILED: $what") }

  private var retainedMb = 0.0

  /** Memory the program retains after its timed ops: heap in use after a
    * full collection, plus non-heap (metaspace, code cache) and NIO
    * buffers. Between two collections Spark's context cleaner drops the
    * broadcasts, shuffles and cached blocks of plans nobody references any
    * more, so what is left is state the program keeps reachable. Taken
    * after each ingest round and at the end of the serve loop, outside
    * every timed region; `retained_mb` is the largest sample. The fixed
    * heap keeps VmHWM from showing this, so it is measured apart. */
  private def sampleRetained(): Unit = {
    import java.lang.management.{BufferPoolMXBean, ManagementFactory}
    val (_, gcS) = timed { System.gc(); Thread.sleep(300); System.gc() }
    val mem = ManagementFactory.getMemoryMXBean
    val buffers = ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean])
      .asScala.map(_.getMemoryUsed).sum
    val heap = mem.getHeapMemoryUsage.getUsed
    val nonHeap = mem.getNonHeapMemoryUsage.getUsed
    val mb = (heap + nonHeap + buffers) / 1048576.0
    log(f"retained_mb=$mb%.1f heap=${heap / 1048576.0}%.1f " +
      f"non_heap=${nonHeap / 1048576.0}%.1f buffers=${buffers / 1048576.0}%.1f gc_s=$gcS%.3f")
    retainedMb = math.max(retainedMb, mb)
  }

  private def timed[T](f: => T): (T, Double) = {
    val s = System.nanoTime(); val r = f; (r, (System.nanoTime() - s) / 1e9)
  }

  // ---- inputs ----------------------------------------------------------

  private val cpus = Runtime.getRuntime.availableProcessors()

  private def years(n: Int, from: Int): Seq[Int] = {
    val r = Corpus.rng(seed, "years", w.name)
    r.ints(from, from + 12).distinct().limit(n).toArray.toSeq.sorted
  }

  /** The extract plan shuffles by file name (Murmur3, seed 42, into
    * `cpus` partitions), so the year decides which booklets share an
    * embedding partition. A seeded choice among the years whose booklets
    * pair up two by two keeps that layout, and with it the number and
    * size of the embedding batches, the same for every seed. */
  private def pairedYear(): Seq[Int] = {
    import org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    def partition(name: String): Int = {
      val h = Murmur3HashFunction.hash(UTF8String.fromString(name), StringType, 42L).toInt
      ((h % cpus) + cpus) % cpus
    }
    val fits = (2010 until 2040).filter { y =>
      val names = for (d <- Seq("D1", "D2"); c <- 1 to w.colors)
        yield Corpus.bookletName(y, d, c)
      names.groupBy(partition).values.forall(_.size == 2)
    }
    if (fits.isEmpty) years(1, 2010)
    else Seq(fits(Corpus.rng(seed, "years", w.name).nextInt(fits.size)))
  }

  private val corpusSpec = w.corpus.copy(
    years = if (w.paired) pairedYear() else years(w.years, 2010),
    colorsPerDay = w.colors)

  private def appendManifest(k: Int): Corpus.Manifest =
    Corpus.single(seed, spec, 2030 + k % 60, if (k % 2 == 0) "D1" else "D2")

  // ---- collection checks ------------------------------------------------

  private final case class Point(id: Long, content: String, subject: String,
      year: Int, vec: Array[Double])

  private def readPoints(spark: SparkSession, root: String): Array[Point] =
    VectorCollection.read(spark, root, Name)
      .select("id", "page_content", "materia", "ano", "vector").collect()
      .map(r => Point(r.getLong(0), r.getString(1), r.getString(2), r.getInt(3),
        r.getSeq[Double](4).toArray))

  private def rowHash(content: String, vec: Array[Double]): Long =
    vec.foldLeft(Hashing.hash64(content, 31L))((h, v) =>
      Hashing.mix64(h ^ java.lang.Double.doubleToLongBits(v)))

  // no cache of expected vectors: it would stay on the heap that
  // `retained_mb` measures
  private def expectedChecksum(recs: Seq[Corpus.Record]): Long =
    recs.foldLeft(0L)((acc, r) =>
      acc + rowHash(r.pageContent, Hashing.hashEmbedVec(r.pageContent, Dim)))

  private def checksum(points: Seq[Point]): Long =
    points.foldLeft(0L)((acc, p) => acc + rowHash(p.content, p.vec))

  /** Count, dense ids, payloads, per-(year, subject) rows and vectors of
    * the whole collection against everything loaded into it so far. */
  private def checkCollection(points: Array[Point], expected: Seq[Corpus.Record],
      what: String): Unit = {
    check(points.length == expected.size,
      s"$what: count ${points.length} != expected ${expected.size}")
    check(points.map(_.id).sorted.sameElements(0L until points.length.toLong),
      s"$what: ids are not dense 0..${points.length - 1}")
    check(points.map(_.content).sorted.sameElements(expected.map(_.pageContent).sorted),
      s"$what: page_content multiset differs from the manifest")
    val got = points.groupBy(p => (p.year, p.subject)).map { case (k, v) => k -> v.length }
    val exp = expected.groupBy(r => (r.year, r.subject)).map { case (k, v) => k -> v.size }
    check(got == exp, s"$what: per-(year, subject) counts $got != $exp")
    check(checksum(points) == expectedChecksum(expected),
      s"$what: content/vector checksum differs from the in-plan hash embedding")
  }

  /** The `<csv>.out` stats table: row_key -> subject counts. */
  private def readStats(csvOut: Path): Map[String, Seq[Long]] = {
    val part = Files.list(csvOut).iterator().asScala
      .find(p => p.getFileName.toString.startsWith("part-"))
      .getOrElse(throw new Failure(s"no part file in $csvOut"))
    val lines = Files.readAllLines(part).asScala.toSeq
    check(lines.headOption.contains(("row_key" +: LoadStats.Subjects).mkString(",")),
      s"stats header ${lines.headOption} unexpected")
    lines.drop(1).filter(_.nonEmpty).map { l =>
      val f = l.split(",", -1)
      f(0) -> f.drop(1).map(_.toLong).toSeq
    }.toMap
  }

  private def statsRows(recs: Seq[Corpus.Record]): Map[String, Seq[Long]] =
    recs.groupBy(_.year).toSeq.flatMap { case (y, rs) =>
      val row = LoadStats.Subjects.map(s => rs.count(_.subject == s).toLong)
      Seq(s"$y todas questoes" -> row, s"$y questoes add" -> row)
    }.toMap

  private def collectionBytes(root: String): (Long, Int) = {
    val dir = Paths.get(root, Name)
    val files = Files.list(dir).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    (files.map(Files.size).sum,
      files.count(_.getFileName.toString.startsWith("part-")))
  }

  // ---- search ------------------------------------------------------------

  private final case class SearchRec(vec: Array[Double], visible: Long,
      ids: Seq[Long])

  private val searches = mutable.ArrayBuffer[SearchRec]()
  private val queryEmbedder = new HashEmbedder(Dim)

  /** One search op: embed the query text, top-k, collect to the driver.
    * Traced, it also reads the scan figures of the plan the search ran. */
  private def search(spark: SparkSession, root: String, text: String,
      visible: Long, tr: Option[Tracer], op: Int): Unit = {
    attempted += 1
    try {
      def body(): (Array[Double], Seq[Long], DataFrame) = {
        val q = queryEmbedder.embedBatch(Seq(text)).head
        val df = VectorCollection.search(spark, root, Name, q.toSeq, K)
        (q, df.collect().map(_.getLong(0)).toSeq, df)
      }
      val ((q, ids, df), s) = timed(tr match {
        case Some(t) => t.span("search", op)(body())
        case None => body()
      })
      searchMs += s * 1000
      searches += SearchRec(q, visible, ids)
      tr.foreach { t =>
        val scan = Trace.scanFigures(df.queryExecution.executedPlan)
        searchLayer += mutable.LinkedHashMap(
          "search.busy_s" -> t.spans.last.seconds,
          "search.rows_scanned_per_result" -> scan.rows.toDouble / math.max(1, ids.size),
          "search.files_scanned" -> scan.files.toDouble,
          "search.bytes_scanned" -> scan.bytes.toDouble)
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        failed += 1; System.err.println(s"[perfbench] search failed: $e")
    }
  }

  /** Brute-force top-k over the points visible when each search ran, with
    * the program's arithmetic and tie order (score desc, id asc). */
  private def scoreSearches(points: Array[Point]): Unit = {
    val byId = points.sortBy(_.id)
    searches.foreach { s =>
      val cand = byId.iterator.take(s.visible.toInt).flatMap { p =>
        var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
        val x = p.vec; val y = s.vec
        if (x.length != y.length) None
        else {
          while (i < x.length) {
            val xv = x(i); val yv = y(i)
            dot += xv * yv; nx += xv * xv; ny += yv * yv; i += 1
          }
          if (nx == 0.0 || ny == 0.0) None
          else Some((dot / (math.sqrt(nx) * math.sqrt(ny)), p.id))
        }
      }.toSeq
      val want = cand.sortBy { case (sc, id) => (-sc, id) }.take(K).map(_._2)
      recallAll += want.size
      recallHit += s.ids.count(want.contains)
      // the search is exact: the same ids in the same order
      check(s.ids == want,
        s"search over ${s.visible} points returned ${s.ids}, brute force $want")
    }
    searches.clear()
  }

  /** Query texts: half loaded payloads, half unseen texts of the same
    * generator; drawn Zipf-skewed (`QuerySkew`) so some repeat. */
  private def queryPool(loaded: Seq[Corpus.Record], n: Int): IndexedSeq[String] = {
    val r = Corpus.rng(seed, "pool", w.name)
    val seen = Seq.fill(n / 2)(loaded(r.nextInt(loaded.size)).pageContent)
    val unseen = Seq.fill(n - n / 2)(Corpus.unseenText(r, spec, 2040))
    val all = scala.collection.mutable.ArrayBuffer.from(seen ++ unseen)
    for (i <- all.indices.reverse) {
      val j = r.nextInt(i + 1); val t = all(i); all(i) = all(j); all(j) = t
    }
    all.toIndexedSeq
  }

  private final class Zipf(n: Int, s: Double, r: SplittableRandom) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def next(): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  // ---- ingest: the program's call, and the traced re-composition --------

  private var stub: Option[EmbedStub] = None

  private def embedder: Option[Embedder] =
    stub.map(s => new HttpEmbedder(s.url, "stub-embedding", Dim))

  private def processPdfFolder(spark: SparkSession, dir: Path, root: String,
      csv: Path): Pipeline.LoadReport =
    Pipeline.processPdfFolder(spark, dir.toString, root, Name, dim = Dim,
      statsCsv = Some(csv.toString), imagesMode = false, embedder = embedder)

  /** Per-layer figures of each traced ingest or append. */
  private val layerOps = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Double]]()
  private val searchLayer = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Double]]()

  /** `Pipeline.processFolder`'s steps in its order, one span per layer,
    * each materializing its output at the boundary. */
  private def tracedIngest(spark: SparkSession, tr: Tracer, counts: SparkCounts,
      op: Int, dir: Path, root: String, csv: Path,
      markers: Int): Pipeline.LoadReport = {
    val lo = mutable.LinkedHashMap[String, Double]()
    stub.foreach(_.reset())
    val pdfs = Files.list(dir).iterator().asScala.toSeq
    var embeddedRows = 0L
    val report = tr.span("pipeline", op) {
      val (all, nPages) = tr.span("pdfsource", op) {
        val all = PdfSource.pages(spark, dir.toString)
          .persist(StorageLevel.MEMORY_AND_DISK)
        (all, all.count())
      }
      val pages = all.filter(TF.kindOf(col("file_name")) === "PV")
      val keyTexts = all
        .filter(TF.kindOf(col("file_name")) === "GB" && col("page_idx") === 0)
        .select(col("file_name"), col("page_text").as("key_text"))
      val (pairs, nPairs) = tr.span("pairing", op) {
        val files = pages.select(col("file_name"))
          .union(keyTexts.select(col("file_name"))).distinct()
        val unpaired = Pairing.unpairedTests(files).count()
        if (unpaired > 0) throw new Failure(s"$unpaired unpaired test PDFs")
        val p = Pairing.pair(files).persist(StorageLevel.MEMORY_AND_DISK)
        (p, p.count())
      }
      val (questions, nQ) = tr.span("extract", op) {
        val q = ExtractPipeline.extract(pages, keyTexts, pairs, imagesMode = false)
          .persist(StorageLevel.MEMORY_AND_DISK)
        (q, q.count())
      }
      val chunks = questions.select(
        TF.txtRecord(col("year"), col("question_text"), col("correct_answer"))
          .as("page_content"),
        col("subject").as("materia"), col("year").as("ano"), col("id").as("qid"))
      val embedded = tr.span("embed", op) {
        val e = (embedder match {
          case Some(em) => Embedder.embedColumn(chunks, "page_content", em,
            outCol = "vector", batchSize = 64)
          case None => chunks.withColumn("vector",
            Fingerprints.hashEmbed(col("page_content"), Dim))
        }).persist(StorageLevel.MEMORY_AND_DISK)
        embeddedRows = e.count()
        e
      }
      val before = collectionBytes(root)._1
      val existing = tr.span("collection.count", op) {
        VectorCollection.count(spark, root, Name)
      }
      val (att, added) = tr.span("collection.append", op) {
        val points = VectorCollection.assignIdsOrdered(
            embedded.select(col("vector"), col("page_content"), col("materia"),
              col("ano"), col("qid")),
            existing, Seq("qid"))
          .drop("qid")
          .select(col("id"), col("vector"), col("page_content"), col("materia"),
            col("ano").cast("int").as("ano"))
        VectorCollection.append(spark, root, Name, points)
      }
      val (bytesAfter, parts) = collectionBytes(root)
      tr.span("stats", op) {
        val attemptedCounts = questions.groupBy(col("year"), col("subject"))
          .agg(count(lit(1)).as("n")).withColumn("kind", lit("todas questoes"))
        val addedCounts = VectorCollection.read(spark, root, Name)
          .filter(col("id") >= existing)
          .groupBy(col("ano").as("year"), col("materia").as("subject"))
          .agg(count(lit(1)).as("n")).withColumn("kind", lit("questoes add"))
        val stats = LoadStats.mergeWithExisting(spark, Some(csv.toString),
          attemptedCounts.unionByName(addedCounts)
            .select(col("year"), col("subject"), col("kind"), col("n")))
        LoadStats.writeCsv(stats, csv.toString + ".out")
      }
      embedded.unpersist(); questions.unpersist(); pairs.unpersist()
      all.unpersist()
      lo("pdfsource.files") = pdfs.size
      lo("pdfsource.pages") = nPages.toDouble
      lo("pdfsource.bytes_in") = pdfs.map(Files.size).sum.toDouble
      lo("pairing.pairs") = nPairs.toDouble
      lo("extract.questions_out") = nQ.toDouble
      lo("extract.yield") = nQ.toDouble / markers
      lo("collection.points_written") = added.toDouble
      lo("collection.part_files") = parts.toDouble
      lo("collection.bytes_written") = (bytesAfter - before).toDouble
      Pipeline.LoadReport(nPairs, 0L, att, added)
    }
    counts.drain(spark.sparkContext)
    val mine = tr.spans.filter(_.op == op)
    def busy(n: String): Double = mine.filter(_.name == n).map(_.seconds).sum
    def acc(ns: String*) = counts.forSpans(mine.filter(s => ns.contains(s.name)).map(_.id))
    val pipe = mine.find(_.name == "pipeline").get
    lo("pipeline.self_s") = Trace.selfSeconds(pipe, mine.filter(_.parent == pipe.id))
    lo("pdfsource.busy_s") = busy("pdfsource")
    lo("pdfsource.tasks") = acc("pdfsource").tasks.toDouble
    lo("pairing.busy_s") = busy("pairing")
    lo("pairing.jobs") = acc("pairing").jobs.toDouble
    lo("extract.busy_s") = busy("extract")
    lo("extract.shuffle_bytes") = acc("extract").shuffleBytes.toDouble
    val embedBusy = busy("embed")
    lo("embed.busy_s") = embedBusy
    val (calls, texts, retries, server) = stub match {
      case Some(s) => (s.calls.get.toDouble, s.texts.get.toDouble,
        s.retries.get.toDouble, s.serverSeconds)
      case None => (0.0, embeddedRows.toDouble, 0.0, 0.0)
    }
    lo("embed.calls") = calls
    lo("embed.texts") = texts
    lo("embed.texts_per_call") = if (calls > 0) texts / calls else 0.0
    lo("embed.retries") = retries
    lo("embed.server_s") = server
    lo("embed.client_s") = embedBusy - server
    lo("collection.count_s") = busy("collection.count")
    lo("collection.append_s") = busy("collection.append")
    lo("collection.jobs") = acc("collection.count", "collection.append").jobs.toDouble
    lo("stats.busy_s") = busy("stats")
    lo("stats.rows") = readStats(Paths.get(csv.toString + ".out")).size.toDouble
    lo("stats.jobs") = acc("stats").jobs.toDouble
    val all = counts.forSpans(mine.map(_.id))
    lo("spark.jobs") = all.jobs.toDouble
    lo("spark.stages") = all.stages.toDouble
    lo("spark.tasks") = all.tasks.toDouble
    lo("spark.sched_wait_s") = all.schedWaitMs / 1e3
    lo("spark.executor_run_s") = all.runMs / 1e3
    lo("spark.gc_s") = all.gcMs / 1e3
    lo("spark.shuffle_bytes") = all.shuffleBytes.toDouble
    layerOps += lo
    report
  }

  // ---- the run ---------------------------------------------------------

  def run(): Int = {
    val genT0 = System.nanoTime()
    val manifest = Corpus.generate(seed, corpusSpec)
    val corpusDir = work.resolve("corpus")
    Corpus.write(manifest, corpusDir)
    Corpus.writeManifest(manifest, work.resolve("manifest/corpus.json"))
    val genS = (System.nanoTime() - genT0) / 1e9
    log(f"corpus files=${manifest.files} pages=${manifest.pages} " +
      f"bytes=${manifest.bytes} markers=${manifest.markers} " +
      f"questions=${manifest.records.size} years=${corpusSpec.years.mkString("/")} " +
      f"colors=${w.colors} dim=$Dim generate_s=$genS%.3f")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${w.name}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    log(f"session_ready_s=${processSetupS(genS)}%.3f (JVM start to Spark session, generation excluded)")
    val counts = new SparkCounts
    spark.sparkContext.addSparkListener(counts)
    val tracer = if (traced) Some(new Tracer(spark.sparkContext)) else None
    if (w.remote) {
      stub = Some(new EmbedStub(Dim, cpus, StubBaseMs, StubPerTextMs, StubFaultOneIn))
      log(s"stub base_ms=$StubBaseMs per_text_ms=$StubPerTextMs " +
        s"fault=503 once on 1 in $StubFaultOneIn distinct batches threads=$cpus")
    }
    val code =
      try { if (w.serve) serve(spark, manifest, tracer, counts, genS)
            else ingest(spark, manifest, tracer, counts, genS) }
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] run aborted: $e")
          e.printStackTrace()
          3
      }
    tracer.foreach(t => traceOut.foreach(t.write))
    stub.foreach(_.stop())
    spark.stop()
    code
  }

  private def warmSearches(spark: SparkSession, root: String,
      pool: IndexedSeq[String]): Unit =
    pool.take(5).foreach(t => VectorCollection.search(spark, root, Name,
      queryEmbedder.embedBatch(Seq(t)).head.toSeq, K).collect())

  /** Collection set-up (create or recreate), timed three times; the
    * median of all of them joins the process set-up in `setup_s`. */
  private def collectionSetup(spark: SparkSession, root: String): Unit =
    for (_ <- 1 to 3)
      roundSetupS += timed(VectorCollection.recreate(spark, root, Name, Dim))._2

  private def processSetupS(genS: Double): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3 - genS

  private def ingest(spark: SparkSession, m: Corpus.Manifest, tr: Option[Tracer],
      counts: SparkCounts, genS: Double): Int = {
    val corpus = work.resolve("corpus")
    val pool = queryPool(m.records, 32)
    val zipf = new Zipf(pool.size, QuerySkew, Corpus.rng(seed, "zipf", w.name))
    // warm-up on the cold JVM, part of set-up: one ingest of the corpus
    // and a few searches through the paths the timed ops take
    val warm = work.resolve("warm").toString
    VectorCollection.recreate(spark, warm, Name, Dim)
    // the stub answers the warm-up without its latency: set-up warms
    // code paths and does not wait out the latency model
    stub.foreach(_.delayed = false)
    val (_, warmS) = timed(
      processPdfFolder(spark, corpus, warm, work.resolve("stats/warm.csv")))
    stub.foreach(_.delayed = true)
    warmSearches(spark, warm, pool)
    log(f"warmup_ingest_s=$warmS%.3f (cold JVM)")
    val procSetup = processSetupS(genS)

    val deadline = System.nanoTime() + seconds * 1000000000L
    val overheads = mutable.ArrayBuffer[Double]()
    var round = 0
    var retriesSeen = Set.empty[Long]
    while (round < 1 || System.nanoTime() < deadline) {
      round += 1
      val root = work.resolve(s"coll-$round").toString
      collectionSetup(spark, root)
      val csv = work.resolve(s"stats/round-$round.csv")
      stub.foreach(_.reset())
      attempted += 1
      val op = round
      val loaded = try {
        val (rep, s) = timed(tr match {
          case Some(t) => tracedIngest(spark, t, counts, op, corpus, root, csv, m.markers)
          case None => processPdfFolder(spark, corpus, root, csv)
        })
        ingestS += s
        check(rep.attempted == m.records.size && rep.added == m.records.size,
          s"round $round: report $rep, expected ${m.records.size} attempted and added")
        stub.foreach(st => retriesSeen += st.retries.get)
        true
      } catch {
        case scala.util.control.NonFatal(e) =>
          failed += 1; System.err.println(s"[perfbench] ingest failed: $e"); false
      }
      if (loaded) {
        // queries right after the load, before the checks' garbage
        val n = m.records.size.toLong
        for (_ <- 1 to 20)
          search(spark, root, pool(zipf.next()), n, tr, 1000 + round)
        sampleRetained()
        val points = readPoints(spark, root)
        checkCollection(points, m.records, s"round $round")
        check(readStats(Paths.get(csv.toString + ".out")) == statsRows(m.records),
          s"round $round: stats ${csv}.out differs from the manifest counts")
        storedBpp += collectionBytes(root)._1.toDouble / points.length
        if (tr.isDefined) {
          // drift check and tracing overhead: the program's own call on
          // the same inputs must load the identical collection
          val twin = work.resolve(s"twin-$round").toString
          stub.foreach(_.reset())
          VectorCollection.recreate(spark, twin, Name, Dim)
          val (_, s) = timed(processPdfFolder(spark, corpus, twin,
            work.resolve(s"stats/twin-$round.csv")))
          overheads += ingestS.last - s
          val tp = readPoints(spark, twin)
          check(tp.length == points.length && checksum(tp) == checksum(points),
            s"round $round: drift — traced composition and processPdfFolder differ")
        }
        scoreSearches(points)
      }
    }
    if (w.remote)
      check(retriesSeen.size <= 1,
        s"stub retry counts differ between identical ingests: $retriesSeen")
    log(f"ingest_s input files=${m.files} pages=${m.pages} bytes=${m.bytes} " +
      f"questions=${m.records.size} ingests=${ingestS.size}")
    finish(procSetup, overheads.toSeq, appendMs = Nil)
  }

  private def serve(spark: SparkSession, m: Corpus.Manifest, tr: Option[Tracer],
      counts: SparkCounts, genS: Double): Int = {
    val corpus = work.resolve("corpus")
    val root = work.resolve("live").toString
    val csv = work.resolve("stats/live.csv")
    val csvOut = Paths.get(csv.toString + ".out")
    def promoteStats(): Unit = {
      deleteTree(csv)
      Files.move(csvOut, csv)
    }
    var loaded: Seq[Corpus.Record] = m.records
    var statsModel = statsRows(m.records)
    // base collection and a few warm-up searches (set-up)
    collectionSetup(spark, root)
    val (_, baseS) = timed(processPdfFolder(spark, corpus, root, csv))
    log(f"base_load_s=$baseS%.3f points=${m.records.size}")
    check(readStats(csvOut) == statsModel, "base load: stats differ from the manifest")
    promoteStats()
    var appended = 0
    var appendedPoints = 0L
    def doAppend(traceIt: Boolean): Option[Double] = {
      val am = appendManifest(appended)
      val dir = work.resolve(s"append-$appended")
      Corpus.write(am, dir)
      appended += 1
      attempted += 1
      try {
        val (rep, s) = timed(tr match {
          case Some(t) if traceIt =>
            tracedIngest(spark, t, counts, 100 + appended, dir, root, csv, am.markers)
          case _ => processPdfFolder(spark, dir, root, csv)
        })
        check(rep.added == am.records.size,
          s"append $appended: added ${rep.added} != ${am.records.size}")
        appendedPoints += rep.added
        loaded = loaded ++ am.records
        statsModel = statsModel ++ statsRows(am.records)
        check(readStats(csvOut) == statsModel,
          s"append $appended: merged stats differ from the expected merge")
        promoteStats()
        Some(s)
      } catch {
        case scala.util.control.NonFatal(e) =>
          failed += 1; System.err.println(s"[perfbench] append failed: $e"); None
      }
    }
    val pool = queryPool(m.records, 64)
    val zipf = new Zipf(pool.size, QuerySkew, Corpus.rng(seed, "zipf", w.name))
    warmSearches(spark, root, pool)
    val procSetup = processSetupS(genS)

    val phase = math.min(w.loopOps, 5 + Corpus.rng(seed, "phase", w.name).nextInt(10))
    val deadline = System.nanoTime() + seconds * 1000000000L
    val appendS = mutable.ArrayBuffer[Double]()
    val tracedAppendS = mutable.ArrayBuffer[Double]()
    val untracedAppendS = mutable.ArrayBuffer[Double]()
    var i = 0
    var visible = loaded.size.toLong
    var nAppends = 0
    while (i < w.loopOps || System.nanoTime() < deadline) {
      if (i % 20 == phase) {
        val traceIt = nAppends % 2 == 0
        doAppend(traceIt).foreach { s =>
          appendS += s
          (if (traceIt) tracedAppendS else untracedAppendS) += s
        }
        nAppends += 1
        visible = loaded.size
      } else {
        search(spark, root, pool(zipf.next()), visible, tr, 2000 + i)
      }
      i += 1
    }
    ingestS ++= appendS
    sampleRetained()
    val points = readPoints(spark, root)
    checkCollection(points, loaded, "serve_mixed end")
    check(points.length == m.records.size + appendedPoints,
      s"count ${points.length} != base ${m.records.size} + appended $appendedPoints")
    scoreSearches(points)
    storedBpp += collectionBytes(root)._1.toDouble / points.length
    log(f"serve base_points=${m.records.size} appends=${appendS.size} " +
      f"appended_points=${loaded.size - m.records.size} searches=${searchMs.size} " +
      f"append_every=20 phase=$phase")
    Trace.tail(appendS.map(_ * 1000).toSeq) match {
      case Some((p, v)) => log(f"append_tail_ms=$v%.3f percentile=$p%.1f n=${appendS.size}")
      case None => log(s"append_tail_ms=n/a (n=${appendS.size} < 20, no percentile has 10 samples beyond it)")
    }
    if (appendS.nonEmpty)
      log(f"append_p50_ms=${Trace.median(appendS.toSeq) * 1000}%.3f n=${appendS.size}")
    val overhead =
      if (tracedAppendS.nonEmpty && untracedAppendS.nonEmpty)
        Seq(Trace.median(tracedAppendS.toSeq) - Trace.median(untracedAppendS.toSeq))
      else Nil
    finish(procSetup, overhead, appendS.map(_ * 1000).toSeq)
  }

  private def unitOf(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (Seq("bytes", "bytes_in", "bytes_written", "bytes_scanned")
        .exists(name.endsWith)) "B"
    else if (name.endsWith("yield")) "ratio"
    else "count"

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)

  private def finish(procSetup: Double, overheads: Seq[Double],
      appendMs: Seq[Double]): Int = {
    log(host.line())
    check(ingestS.nonEmpty, "no timed ingest completed")
    check(searchMs.nonEmpty, "no timed search completed")
    val okRatio = if (attempted == 0) 0.0 else 1.0 - failed.toDouble / attempted
    val recall = if (recallAll == 0) 0.0 else recallHit.toDouble / recallAll
    log(f"failed_op_ratio=${1.0 - okRatio}%.6f attempted=$attempted failed=$failed")
    log(f"setup_s process=$procSetup%.3f round_median=${
      if (roundSetupS.isEmpty) 0.0 else Trace.median(roundSetupS.toSeq)}%.3f rounds=${roundSetupS.size}")
    Trace.tail(searchMs.toSeq) match {
      case Some((p, v)) => log(f"search_tail_ms=$v%.3f percentile=$p%.1f n=${searchMs.size}")
      case None => log(s"search_tail_ms=n/a (n=${searchMs.size} < 20, no percentile has 10 samples beyond it)")
    }
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    if (!traced) {
      metrics("setup_s") = (procSetup +
        (if (roundSetupS.isEmpty) 0.0 else Trace.median(roundSetupS.toSeq)), "s")
      metrics("ingest_s") = (Trace.median(ingestS.toSeq), "s")
      metrics("search_p50_ms") = (Trace.median(searchMs.toSeq), "ms")
      metrics("search_recall_at_k") = (recall, "ratio")
      metrics("stored_bytes_per_point") = (Trace.median(storedBpp.toSeq), "B")
      metrics("peak_rss_mb") = (peakRssMb, "MiB")
      metrics("retained_mb") = (retainedMb, "MiB")
      metrics("ok_op_ratio") = (okRatio, "ratio")
    } else {
      check(layerOps.nonEmpty, "no traced ingest completed")
      layerOps.head.keys.foreach { n =>
        metrics(n) = (Trace.median(layerOps.map(_(n)).toSeq), unitOf(n))
      }
      Seq("search.busy_s", "search.rows_scanned_per_result", "search.files_scanned",
          "search.bytes_scanned").foreach { n =>
        metrics(n) = (Trace.median(searchLayer.map(_(n)).toSeq), unitOf(n))
      }
      metrics("pipeline.tracing_overhead_s") =
        (if (overheads.isEmpty) 0.0 else Trace.median(overheads), "s")
      log(f"tracing_overhead_s=${metrics("pipeline.tracing_overhead_s")._1}%.3f " +
        f"(traced pipeline span - untraced processPdfFolder, median of ${overheads.size})")
    }
    val correct = problems.isEmpty
    val json = new StringBuilder
    json ++= s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {"""
    json ++= metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${if (v.isNaN || v.isInfinite) 0.0 else v}, "unit": "$u"}"""
    }.mkString(", ")
    json ++= "}}"
    println(json.result())
    System.out.flush()
    if (correct) 0 else 1
  }
}
