package perfbench

import java.util.SplittableRandom

/** Seeded input generators. The same seed gives the same inputs; the
  * library only ever sees what these produce.
  */
object Gen {

  /** The 20-row drivers dimension: (driver_number, driver_name). */
  val Drivers: IndexedSeq[(String, String)] = IndexedSeq(
    "1" -> "Max Verstappen", "11" -> "Sergio Perez", "44" -> "Lewis Hamilton",
    "63" -> "George Russell", "16" -> "Charles Leclerc", "55" -> "Carlos Sainz",
    "4" -> "Lando Norris", "81" -> "Oscar Piastri", "14" -> "Fernando Alonso",
    "18" -> "Lance Stroll", "10" -> "Pierre Gasly", "31" -> "Esteban Ocon",
    "23" -> "Alexander Albon", "2" -> "Logan Sargeant", "22" -> "Yuki Tsunoda",
    "3" -> "Daniel Ricciardo", "77" -> "Valtteri Bottas", "24" -> "Zhou Guanyu",
    "20" -> "Kevin Magnussen", "27" -> "Nico Hulkenberg")

  val GrandsPrix: IndexedSeq[String] = IndexedSeq(
    "Bahrain", "Saudi Arabia", "Australia", "Japan", "China", "Miami",
    "Emilia Romagna", "Monaco", "Canada", "Spain", "Austria", "Great Britain",
    "Hungary", "Belgium", "Netherlands", "Italy", "Azerbaijan", "Singapore",
    "United States", "Mexico", "Brazil", "Las Vegas", "Qatar", "Abu Dhabi")

  /** One race-result message: the JSON the stream receives plus the
    * fields the checks need.
    */
  final case class RaceMsg(json: String, sessionKey: String, driver: String,
      position: Option[Int], gp: String)

  private def shuffled[A](xs: IndexedSeq[A], rnd: SplittableRandom): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }

  /** `n` race-result messages in the 9-field `Schemas.raceResultMessage`
    * shape. Messages come in races of 20 (one per driver, in a seeded
    * order); each driver retires with probability `nullShare`, and a
    * retired driver's message has a null position, which the ingest's
    * completeness filter drops.
    */
  def raceMessages(seed: Long, n: Int, nullShare: Double = 0.1): IndexedSeq[RaceMsg] = {
    val rnd = new SplittableRandom(seed)
    val out = IndexedSeq.newBuilder[RaceMsg]
    out.sizeHint(n)
    var race = 0
    var made = 0
    while (made < n) {
      val gp = GrandsPrix(race % GrandsPrix.size)
      val session = (9000 + race).toString
      val meeting = (1200 + race / 2).toString
      val date = java.time.LocalDate.of(2024, 3, 2).plusWeeks(race.toLong)
      val order = shuffled(Drivers.map(_._1), rnd)
      val laps = 50 + rnd.nextInt(21)
      var pos = 0
      order.iterator.takeWhile(_ => made < n).foreach { d =>
        val retired = rnd.nextDouble() < nullShare
        val position = if (retired) None else { pos += 1; Some(pos) }
        val done = if (retired) rnd.nextInt(laps) else laps
        val gap = position.map(p => if (p == 1) "+0.000"
          else String.format(java.util.Locale.ROOT, "+%.3f",
            Double.box((p - 1) * 1.7 + rnd.nextInt(1000) / 1000.0)))
        val json = new StringBuilder(220)
          .append("{\"grand_prix\":\"").append(gp)
          .append("\",\"date\":\"").append(date).append("T13:00:00")
          .append("\",\"driver_number\":\"").append(d)
          .append("\",\"position\":").append(position.map(_.toString).getOrElse("null"))
          .append(",\"laps_completed\":").append(done)
          .append(",\"dnf\":").append(retired)
          .append(",\"gap_to_leader\":").append(gap.map("\"" + _ + "\"").getOrElse("null"))
          .append(",\"meeting_key\":\"").append(meeting)
          .append("\",\"session_key\":\"").append(session).append("\"}")
          .toString
        out += RaceMsg(json, session, d, position, gp)
        made += 1
      }
      race += 1
    }
    out.result()
  }

  /** One curation input row. */
  final case class Doc(docId: Long, text: String, embedding: Seq[Double])

  /** The base docs: sf0.1 `documents ⋈ embeddings` (2 000 rows), one per
    * line as `doc_id<TAB>text<TAB>comma-separated float32 embedding`.
    */
  def readDocs(path: String): IndexedSeq[Doc] = {
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      new java.util.zip.GZIPInputStream(new java.io.FileInputStream(path)), "UTF-8"))
    try Iterator.continually(in.readLine()).takeWhile(_ != null).map { line =>
      val Array(id, text, emb) = line.split("\t", -1)
      Doc(id.toLong, text, emb.split(',').map(x => java.lang.Float.parseFloat(x).toDouble).toSeq)
    }.toIndexedSeq.sortBy(_.docId)
    finally in.close()
  }

  /** `tools/gen_sf.py`'s copy rule: copy `c > 0` suffixes every
    * space-separated token with `q<c>` and offsets the id by `c * stride`.
    */
  def copyOf(d: Doc, c: Int, stride: Long): Doc =
    if (c == 0) d
    else Doc(d.docId + c * stride, d.text.split(" ", -1).map(_ + "q" + c).mkString(" "),
      d.embedding)

  /** `n` docs: the base docs in a seeded order, then copies 1, 2, ... of
    * them (each copy in its own seeded order) once the base runs out.
    */
  def docStream(base: IndexedSeq[Doc], seed: Long, n: Int): IndexedSeq[Doc] = {
    require(base.nonEmpty, "no base docs")
    val stride = base.map(_.docId).max + 1
    val rnd = new SplittableRandom(seed)
    val cycles = (n + base.size - 1) / base.size
    (0 until cycles).flatMap { c =>
      shuffled(base, rnd).map(copyOf(_, c, stride))
    }.take(n)
  }

  sealed trait Request { def kind: String }
  case object Standings extends Request { val kind = "standings" }
  case object Podium extends Request { val kind = "podium" }
  final case class GpDetail(gp: String) extends Request { val kind = "gp_detail" }
  case object WinRate extends Request { val kind = "win_rate" }

  /** The dashboard client's request order: it rotates through standings,
    * podium, per-GP detail and win rate; the seed picks where the
    * rotation starts and which grand prix each detail request shows.
    */
  def dashboardRequests(seed: Long, n: Int): IndexedSeq[Request] = {
    val rnd = new SplittableRandom(seed)
    val phase = rnd.nextInt(4)
    (0 until n).map { i =>
      (i + phase) % 4 match {
        case 0 => Standings
        case 1 => Podium
        case 2 => GpDetail(GrandsPrix(rnd.nextInt(GrandsPrix.size)))
        case _ => WinRate
      }
    }
  }
}
