package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.ql.{Planner, QueryGuard}

class QuestionsSpec extends AnyFunSuite {

  private def draw(seed: Long, client: Int, n: Int): Seq[String] = {
    val s = new Questions.Stream(seed, client, 2)
    Seq.fill(n)(s.next()._2)
  }

  test("every gated ql_ query contributes its canonical question") {
    assert(Questions.templates.size == graft.SparkEntry.all.count(_.name.startsWith("ql_")))
    assert(Questions.variable.nonEmpty)
  }

  test("the question stream is deterministic per seed and differs across seeds") {
    assert(draw(7, 0, 60) == draw(7, 0, 60))
    assert(draw(7, 1, 60) == draw(7, 1, 60))
    assert(draw(7, 0, 60) != draw(8, 0, 60))
  }

  test("every third question repeats an earlier one; fresh ones are never repeats") {
    val qs = draw(3, 0, 60)
    val repeats = qs.indices.filter(i => qs.take(i).contains(qs(i)))
    assert(repeats == (2 until 60 by 3), "repeats are every third question")
    val fresh0 = draw(3, 0, 60).distinct.toSet
    val fresh1 = draw(3, 1, 60).distinct.toSet
    assert(fresh0.intersect(fresh1).isEmpty, "two clients asked the same question")
  }

  test("a cycle asks every template of the stream fresh equally often") {
    for (client <- 0 to 1) {
      val s = new Questions.Stream(5, client, 2)
      assert(s.cycleOps % Questions.RepeatEvery == 0)
      val fresh = (0 until s.cycleOps).map(i => i -> s.next()._1)
        .collect { case (i, t) if i % Questions.RepeatEvery != Questions.RepeatEvery - 1 => t.name }
      val counts = fresh.groupBy(identity).values.map(_.size).toSet
      assert(counts.size == 1, s"uneven template counts in a cycle: $counts")
      assert(fresh.distinct.size == Questions.variable.indices.count(_ % 2 == client))
    }
  }

  test("every substituted question plans without clarification and passes the guard") {
    for (seed <- 1L to 20L; client <- 0 to 1; q <- draw(seed, client, 40).distinct) {
      val plan = Planner.planOrClarify(q)
      assert(plan.isRight, s"clarification for '$q': $plan")
      plan.foreach(p => assert(QueryGuard.validate(p.sql).isRight, s"guard denied '$q': ${p.sql}"))
    }
  }

  test("substitution changes only the values") {
    val rnd = new scala.util.Random(1)
    val q = Questions.substitute("how many orders between 01-02-1995 and 15-02-1995", rnd)
    assert(q.matches("""how many orders between \d{2}-\d{2}-\d{4} and \d{2}-\d{2}-\d{4}"""), q)
    val top = Questions.substitute("top 5 customers by order total since 1996", rnd)
    assert(top.matches("""top \d+ customers by order total since (199[5-9]|200[01])"""), top)
  }
}
