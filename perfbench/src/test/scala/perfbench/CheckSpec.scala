package perfbench

import graft.pipeline.Corpus
import org.scalatest.funsuite.AnyFunSuite

/** The output check must accept the golden set and reject any corruption of
 * it; otherwise a broken pipeline would pass the benchmark. */
class CheckSpec extends AnyFunSuite {
  private val (seed, files, repos, kb) = (7L, 60L, 20, 2000L)
  private val golden = Check.goldenScaled(seed, files, repos, kb, 0L until files)

  test("golden over a file prefix equals Corpus.goldenFinalTriplesScaled") {
    assert(golden == Corpus.goldenFinalTriplesScaled(seed, files, repos, kb))
    assert(golden.size > files)
  }

  test("the golden set itself passes") {
    assert(Check.triples(golden.toSeq, golden).isEmpty)
  }

  test("one dropped row is rejected") {
    assert(Check.triples(golden.toSeq.tail, golden).nonEmpty)
  }

  test("one changed predicate is rejected") {
    val (s, p, o, i) = golden.head
    val changed = (s, p + "_changed", o, i) +: golden.toSeq.tail
    assert(Check.triples(changed, golden).nonEmpty)
  }

  test("one duplicated row is rejected") {
    assert(Check.triples(golden.toSeq :+ golden.head, golden).nonEmpty)
  }
}
