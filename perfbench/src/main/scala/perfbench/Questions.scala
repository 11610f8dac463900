package perfbench

import scala.util.Random
import scala.util.matching.Regex

/** Seeded analyst questions drawn from the oracle-gated `ql_*` templates.
  *
  * A template is the canonical question of a `ql_*` query (its doc ends in
  * `[NL: “...”]`). A fresh question substitutes the template's years, day
  * dates, top-k / first-n counts, value thresholds and day windows with
  * seeded values from the data's domains. Only templates with something
  * to substitute are used, each stream cycling through its share of them
  * in inventory order, so every seed asks the same mix of question shapes.
  * A fresh question is never one asked before; every [[Questions.RepeatEvery]]-th
  * question repeats a seeded earlier one, so a third of the questions are
  * result-cache hits.
  */
final case class Template(name: String, question: String)

object Questions {

  val RepeatEvery = 3

  private val NlQuestion = """\[NL: “(.+)”\]""".r.unanchored

  /** The canonical question of every `ql_*` query, in inventory order. */
  lazy val templates: Seq[Template] = graft.SparkEntry.all.collect {
    case q if q.name.startsWith("ql_") => q.doc match {
      case NlQuestion(question) => Template(q.name, question)
      case other => throw new IllegalStateException(s"${q.name}: no NL question in '$other'")
    }
  }

  /** Templates with at least one substitutable value. */
  lazy val variable: Seq[Template] = templates.filter(t =>
    Seq(DayDmy, DayIso, Year, Count, Over, LastDays).exists(_.findFirstIn(t.question).isDefined))

  private val DayDmy = """\b(\d{2})-(\d{2})-(\d{4})\b""".r
  private val DayIso = """\b(\d{4})-(\d{2})-(\d{2})\b""".r
  private val Year = """\b(199[5-9]|200[01])\b""".r
  private val Count = """\b(top|first) (\d+)\b""".r
  private val Over = """\bover (\d+)\b""".r
  private val LastDays = """\blast (\d+) days\b""".r

  /** Replace each match of `re` in order with `values(i)`. */
  private def fill(s: String, re: Regex, values: Seq[String]): String = {
    val it = values.iterator
    re.replaceAllIn(s, _ => Regex.quoteReplacement(it.next()))
  }

  /** A seeded variant of `question`. Several dates or years in one
    * question stay in ascending order, so a range stays non-empty. */
  def substitute(question: String, rnd: Random): String = {
    val d0 = java.time.LocalDate.of(1995, 1, 1)
    def orderDay() = d0.plusDays(rnd.nextInt(6 * 365).toLong)
    def eventDay() = java.time.LocalDate.of(2024, 1, 1).plusDays(rnd.nextInt(30).toLong)
    def days(n: Int, y: Int) = Seq.fill(n)(if (y >= 2024) eventDay() else orderDay()).sorted
    var s = question
    val dmy = DayDmy.findAllMatchIn(s).toSeq
    if (dmy.nonEmpty) s = fill(s, DayDmy, days(dmy.size, dmy.head.group(3).toInt)
      .map(d => f"${d.getDayOfMonth}%02d-${d.getMonthValue}%02d-${d.getYear}%04d"))
    val iso = DayIso.findAllMatchIn(s).toSeq
    if (iso.nonEmpty) s = fill(s, DayIso, days(iso.size, iso.head.group(1).toInt).map(_.toString))
    // years not inside a date (the date patterns were rewritten above)
    val bare = Year.findAllMatchIn(s).count(m =>
      !(m.start > 0 && s.charAt(m.start - 1) == '-') &&
        !(m.end < s.length && s.charAt(m.end) == '-'))
    if (bare > 0 && bare == Year.findAllMatchIn(s).size)
      s = fill(s, Year, Seq.fill(bare)(1995 + rnd.nextInt(7)).sorted.map(_.toString))
    s = Count.replaceAllIn(s, m => s"${m.group(1)} ${2 + rnd.nextInt(9)}")
    s = Over.replaceAllIn(s, m => {
      val v = m.group(1).toLong
      val step = math.max(1L, v / 4)
      s"over ${step * (2 + rnd.nextInt(5))}"
    })
    LastDays.replaceAllIn(s, _ => s"last ${5 + rnd.nextInt(26)} days")
  }

  /** A question stream of one analyst, deterministic for a seed. Streams
    * with different `client` numbers draw from disjoint template sets, so
    * two analysts never ask the same fresh question. */
  final class Stream(seed: Long, client: Int, clients: Int) {
    private val rnd = new Random(seed * 7919L + client)
    private val mine = variable.zipWithIndex.collect { case (t, i) if i % clients == client => t }
    private val asked = scala.collection.mutable.ArrayBuffer[(Template, String)]()
    private val seen = scala.collection.mutable.HashSet[String]()

    private var fresh = 0

    /** Ops of one whole cycle: a multiple of [[RepeatEvery]] in which every
      * template of the stream is asked fresh equally often. */
    val cycleOps: Int = {
      val perRepeat = RepeatEvery - 1
      val freshOps = Iterator.from(1).map(_ * mine.size).find(_ % perRepeat == 0).get
      freshOps / perRepeat * RepeatEvery
    }

    /** The next (template, question) of this stream. */
    def next(): (Template, String) = {
      val q =
        if (asked.size % RepeatEvery == RepeatEvery - 1) asked(rnd.nextInt(asked.size))
        else {
          val t = mine(fresh % mine.size)
          fresh += 1
          Iterator.continually(t -> substitute(t.question, rnd)).take(1000)
            .find(c => !seen.contains(c._2))
            .getOrElse(throw new IllegalStateException(s"no unseen variant of ${t.name} left"))
        }
      asked += q
      seen += q._2
      q
    }
  }
}
