package perfbench

import graft.functions.PdfSynth

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded ENEM-shaped corpus: booklet (`PV`) and answer-key (`GB`) PDFs
  * written with the program's public `PdfSynth.build`, plus the manifest of
  * what the extract stage must produce from them.
  *
  * Layout (the one the extract plan parses): page 0 is a cover; each later
  * page holds a run of questions, each a marker line (`QUESTÃO`, sometimes
  * `Questão`), stem lines and doubled-letter alternatives (`A` / `A text`).
  * Pages may open with a header and a `*BARCODE*` token and may end with
  * one. A question with a figure puts an image on its page, and no-images
  * mode drops every question on such a page. Questions with fewer than five
  * alternatives are non-standard and dropped. The colors of one
  * (year, day) share their questions, permuted within each subject block,
  * as real booklets do. Key PDFs list displayed number / letter pairs; the
  * D1 language block is listed twice (English, then Spanish).
  *
  * The manifest is computed here from the generator's own model of the
  * layout, never by calling the program's parsing code. */
object Corpus {

  final case class Spec(
      years: Seq[Int],
      colorsPerDay: Int,
      d1Questions: (Int, Int),
      d2Questions: (Int, Int),
      questionsPerPage: (Int, Int),
      stemWords: (Int, Int),
      figureShare: Double,
      nonStandardShare: Double)

  /** One question the program must load, by (year, subject) and the exact
    * `page_content` payload it must store. */
  final case class Record(year: Int, subject: String, pageContent: String)

  final case class Booklet(name: String, keyName: String, pdf: Array[Byte],
      key: Array[Byte], pages: Int, markers: Int, records: Seq[Record])

  final case class Manifest(booklets: Seq[Booklet]) {
    def records: Seq[Record] = booklets.flatMap(_.records)
    def markers: Int = booklets.map(_.markers).sum
    def files: Int = 2 * booklets.size
    def pages: Int = booklets.map(_.pages).sum + booklets.size
    def bytes: Long = booklets.map(b => b.pdf.length.toLong + b.key.length).sum
    def counts: Map[(Int, String), Int] =
      records.groupBy(r => (r.year, r.subject)).map { case (k, v) => k -> v.size }
  }

  val Letters = "ABCDE"

  /** Subject blocks by raw in-booklet position (the program's
    * SubjectRange table); colors permute questions inside a block. */
  private val Blocks: Map[String, Seq[(Int, Int, String)]] = Map(
    "D1" -> Seq((1, 5, "eng"), (6, 10, "spani"), (11, 50, "lang"),
      (51, 95, "huma")),
    "D2" -> Seq((1, 45, "natu"), (46, 91, "math")))

  def subjectOf(day: String, n: Int): String =
    Blocks(day).find { case (lo, hi, _) => n >= lo && n <= hi }
      .map(_._3).getOrElse(sys.error(s"position $n outside $day blocks"))

  private final case class Question(stem: Seq[String], alts: Seq[String],
      answer: Int, figure: Boolean)

  /** A stream of the run's randomness named by `parts`, so adding one
    * consumer never shifts what another draws. */
  def rng(seed: Long, parts: Any*): SplittableRandom =
    new SplittableRandom(parts.foldLeft(seed * 0x9E3779B97F4A7C15L) {
      (h, p) => graft.functions.Hashing.mix64(h ^ p.toString.hashCode.toLong)
    })

  private def between(r: SplittableRandom, lohi: (Int, Int)): Int =
    r.nextInt(lohi._1, lohi._2 + 1)

  private val Syllables = Seq("ba", "be", "ca", "ção", "da", "de", "di",
    "do", "fa", "fe", "ga", "gua", "la", "le", "li", "lo", "ma", "me", "mi",
    "mo", "na", "ne", "no", "nu", "pa", "pe", "po", "qua", "ra", "re", "ri",
    "ro", "sa", "se", "si", "so", "ta", "te", "ti", "to", "tu", "va", "ve",
    "vi", "xa", "za", "ção", "nhã", "lhe", "ções", "ên", "ós", "ín")
  private val Common = Seq("a", "o", "de", "que", "em", "um", "uma", "para",
    "com", "não", "os", "as", "no", "na", "do", "da", "se", "por", "mais",
    "texto", "sobre", "segundo", "autor", "processo", "social", "energia",
    "função", "gráfico", "valor", "período", "século", "região")

  /** Lowercase words only: an uppercase A-E letter alone on a line would
    * read as an alternative marker. */
  private def word(r: SplittableRandom): String =
    if (r.nextInt(3) == 0) Common(r.nextInt(Common.size))
    else Seq.fill(1 + r.nextInt(3))(Syllables(r.nextInt(Syllables.size)))
      .mkString

  private def words(r: SplittableRandom, n: Int): Seq[String] =
    Seq.fill(n)(word(r))

  private def lines(ws: Seq[String]): Seq[String] =
    ws.grouped(12).map(_.mkString(" ")).toSeq

  private def question(r: SplittableRandom, spec: Spec): Question = {
    val stem = lines(words(r, between(r, spec.stemWords)))
    val nAlts = if (r.nextDouble() < spec.nonStandardShare) 3 + r.nextInt(2)
      else 5
    val alts = Seq.fill(nAlts)(words(r, 2 + r.nextInt(10)).mkString(" "))
    Question(stem, alts, r.nextInt(nAlts), r.nextDouble() < spec.figureShare)
  }

  /** Text the generator would produce for a fresh question of `spec`,
    * formatted as a stored payload — the unseen half of a query pool. */
  def unseenText(r: SplittableRandom, spec: Spec, year: Int): String = {
    val q = question(r, spec)
    txtRecord(year, questionText(q, lastOnPage = false, trailer = false),
      Letters(q.answer).toString)
  }

  private def barcode(r: SplittableRandom): String =
    "*" + Seq.fill(9 + r.nextInt(2))(
      "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"(r.nextInt(36))).mkString + "*"

  /** question_text after marker split and alternative rewrite: the marker,
    * the stem, `X)body` alternatives, and on a page's last question the
    * emptied trailing barcode line plus the splitter's sentinel space. */
  private def questionText(q: Question, lastOnPage: Boolean,
      trailer: Boolean): String =
    "QUESTÃO\n" + q.stem.mkString("\n") + "\n" +
      q.alts.zipWithIndex.map { case (a, i) => s"${Letters(i)})$a\n" }.mkString +
      (if (lastOnPage) (if (trailer) "\n" else "") + " " else "")

  def txtRecord(year: Int, text: String, answer: String): String =
    s"(Enem/$year)  $text\n(RESPOSTA CORRETA): $answer\n\n"

  private def displayed(day: String, n: Int): Int =
    if (day == "D1") (if (n > 5) n - 5 else n) else n + 90

  /** One (year, day, color) booklet, its key, and its expected records. */
  private def booklet(seed: Long, spec: Spec, year: Int, day: String,
      color: Int, master: IndexedSeq[Question]): Booklet = {
    val r = rng(seed, "layout", year, day, color)
    // color 1 is the master order; other colors permute inside blocks
    val order: IndexedSeq[Question] =
      if (color == 1) master
      else Blocks(day).flatMap { case (lo, hi, _) =>
        val block = master.slice(lo - 1, math.min(hi, master.size))
        val idx = scala.collection.mutable.ArrayBuffer.range(0, block.size)
        for (i <- idx.indices.reverse) {
          val j = r.nextInt(i + 1)
          val t = idx(i); idx(i) = idx(j); idx(j) = t
        }
        idx.map(block).toSeq
      }.toIndexedSeq
    val pageRuns = {
      val out = Seq.newBuilder[IndexedSeq[(Question, Int)]]
      var rest = order.zipWithIndex.map { case (q, i) => (q, i + 1) }
      while (rest.nonEmpty) {
        val k = between(r, spec.questionsPerPage)
        out += rest.take(k); rest = rest.drop(k)
      }
      out.result()
    }
    val cover = Seq(s"EXAME NACIONAL DO ENSINO MÉDIO $year",
      s"CADERNO $color ${if (day == "D1") "1º DIA" else "2º DIA"}",
      "LEIA ATENTAMENTE AS INSTRUÇÕES SEGUINTES")
    val records = Seq.newBuilder[Record]
    val pageLines = Seq.newBuilder[Seq[String]]
    val imagePages = Set.newBuilder[Int]
    pageLines += cover
    pageRuns.zipWithIndex.foreach { case (run, p) =>
      val header =
        (if (r.nextBoolean()) Seq(barcode(r)) else Nil) ++
          Seq(s"ENEM $year ${if (day == "D1") "LINGUAGENS" else "CIÊNCIAS"}")
      val trailer = r.nextInt(3) == 0
      val body = run.flatMap { case (q, _) =>
        val marker = if (r.nextInt(5) == 0) "Questão" else "QUESTÃO"
        (marker +: q.stem) ++ q.alts.zipWithIndex.flatMap { case (a, i) =>
          Seq(Letters(i).toString, s"${Letters(i)} $a")
        }
      }
      pageLines += header ++ body ++ (if (trailer) Seq(barcode(r)) else Nil)
      val hasImage = run.exists(_._1.figure)
      if (hasImage) imagePages += p + 1
      run.zipWithIndex.foreach { case ((q, n), i) =>
        if (!hasImage && q.alts.size == 5)
          records += Record(year, subjectOf(day, n),
            txtRecord(year, questionText(q, i == run.size - 1, trailer),
              Letters(q.answer).toString))
      }
    }
    val keyLines = {
      val entries =
        if (day == "D1")
          (1 to math.min(10, order.size)).map(n =>
            (if (n > 5) n - 5 else n, order(n - 1))) ++
            (11 to order.size).map(n => (displayed(day, n), order(n - 1)))
        else (1 to order.size).map(n => (displayed(day, n), order(n - 1)))
      s"GABARITO DO ENEM $year ${day} CADERNO $color" +:
        entries.flatMap { case (d, q) => Seq(d.toString, Letters(q.answer).toString) }
    }
    val pages = pageLines.result()
    val name = bookletName(year, day, color)
    Booklet(name, name.replace("_PV_", "_GB_"),
      PdfSynth.build(pages, imagePages.result()),
      PdfSynth.build(Seq(keyLines)), pages.size, order.size,
      records.result())
  }

  private def master(seed: Long, spec: Spec, year: Int,
      day: String): IndexedSeq[Question] = {
    val r = rng(seed, "master", year, day)
    val n = between(r, if (day == "D1") spec.d1Questions else spec.d2Questions)
    IndexedSeq.fill(n)(question(r, spec))
  }

  def bookletName(year: Int, day: String, color: Int): String =
    f"${year}_PV_impresso_${day}_CD$color.pdf"

  /** Every (year, day, color) booklet of `spec`. */
  def generate(seed: Long, spec: Spec): Manifest =
    Manifest(for {
      year <- spec.years
      day <- Seq("D1", "D2")
      m = master(seed, spec, year, day)
      color <- 1 to spec.colorsPerDay
    } yield booklet(seed, spec, year, day, color, m))

  /** A single-booklet folder: color 1 of a (year, day) of its own. */
  def single(seed: Long, spec: Spec, year: Int, day: String): Manifest =
    Manifest(Seq(booklet(seed, spec, year, day, 1,
      master(seed, spec, year, day))))

  /** Write the PDFs into `dir` (created) — the only thing the program sees. */
  def write(m: Manifest, dir: Path): Unit = {
    Files.createDirectories(dir)
    m.booklets.foreach { b =>
      Files.write(dir.resolve(b.name), b.pdf)
      Files.write(dir.resolve(b.keyName), b.key)
    }
  }

  /** The manifest as JSON (written beside, never inside, the PDF folder). */
  def writeManifest(m: Manifest, file: Path): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("files", m.files); root.put("pages", m.pages)
    root.put("bytes", m.bytes); root.put("question_markers", m.markers)
    val counts = root.putArray("counts")
    m.counts.toSeq.sorted.foreach { case ((y, s), n) =>
      counts.addObject().put("year", y).put("subject", s).put("n", n)
    }
    val recs = root.putArray("page_content")
    m.records.foreach(r => recs.add(r.pageContent))
    Files.createDirectories(file.getParent)
    mapper.writerWithDefaultPrettyPrinter().writeValue(file.toFile, root)
  }

  /** SHA-256 over every written file in name order — the determinism
    * fingerprint the self-test compares across generations. */
  def digest(m: Manifest): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    m.booklets.sortBy(_.name).foreach { b =>
      md.update(b.name.getBytes("UTF-8")); md.update(b.pdf)
      md.update(b.keyName.getBytes("UTF-8")); md.update(b.key)
    }
    md.digest().map(x => f"$x%02x").mkString
  }
}
