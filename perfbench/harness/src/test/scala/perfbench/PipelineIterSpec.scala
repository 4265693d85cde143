package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** `pipeline_iter`'s components check: it holds for the engine on the
  * default and the held-out seed, and it catches pairs that are dropped
  * or invented. */
class PipelineIterSpec extends AnyFunSuite {
  import TestSession.{testDir, spark}

  private val Docs = 20
  private val Templates = 4
  private val clusterPairs =
    for (a <- 0L until Docs; c <- a + 1 until Docs if a % Templates == c % Templates) yield (a, c)

  test("the generated clusters' own pairs pass the check") {
    assert(PipelineIter.checkPairs(clusterPairs, Docs, Templates) === None)
  }

  test("a pair across clusters fails the check") {
    assert(PipelineIter.checkPairs(clusterPairs :+ (1L, 2L), Docs, Templates).isDefined)
  }

  test("dropped pairs fail the check") {
    assert(PipelineIter.checkPairs(clusterPairs.drop(1), Docs, Templates).isDefined)
    assert(PipelineIter.checkPairs(clusterPairs.filterNot(_._1 % Templates == 0),
      Docs, Templates).isDefined)
  }

  for (seed <- Seq(1L, 7L)) test(s"the engine's components pass the check on seed $seed") {
    val b = new Bench(spark, seed, s"$testDir/pipeline-iter-$seed", traceable = false)
    val w = new PipelineIter
    b.useCatalog(s"pi$seed")
    w.generate(b)
    w.setup(b)
    w.prepare(b)
    val op = w.round(b, 0).find(_.kind == "operators.components").get
    val (sample, _) = b.run(op)
    assert(sample.error === None)
  }
}
