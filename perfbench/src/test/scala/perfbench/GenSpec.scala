package perfbench

import java.nio.file.{Files => JFiles}

import org.scalatest.funsuite.AnyFunSuite

import graft.core.text.XmlValidator

class GenSpec extends AnyFunSuite {

  test("the same seed gives byte-identical span JSONL; another seed does not") {
    val dir = JFiles.createTempDirectory("perfbench-gen")
    try {
      val a = dir.resolve("a.jsonl")
      val b = dir.resolve("b.jsonl")
      val c = dir.resolve("c.jsonl")
      Files.writeLines(a, Gen.traces(7L, 200).lines)
      Files.writeLines(b, Gen.traces(7L, 200).lines)
      Files.writeLines(c, Gen.traces(8L, 200).lines)
      assert(JFiles.readAllBytes(a).sameElements(JFiles.readAllBytes(b)))
      assert(!JFiles.readAllBytes(a).sameElements(JFiles.readAllBytes(c)))
    } finally Files.delete(dir)
  }

  test("the same seed gives identical corpora; another seed does not") {
    assert(Gen.corpus(5L, 400) == Gen.corpus(5L, 400))
    assert(Gen.corpus(5L, 400) != Gen.corpus(6L, 400))
  }

  test("trace counts: every span line parses, malformed lines are planted on top") {
    val t = Gen.traces(3L, 300)
    assert(t.lines.size == t.spans + t.malformed)
    assert(t.malformed > 0)
    assert(t.records > 300 / 2 && t.invalid > 0 && t.invalid < t.records)
  }

  test("planted XML is valid or invalid exactly as the generator counts it") {
    val rng = new java.util.SplittableRandom(11L)
    (1 to 200).foreach { _ =>
      val ok = Gen.validCall(rng)
      assert(XmlValidator.isValid(ok), ok)
      val bad = Gen.invalidCall(rng)
      assert(!XmlValidator.isValid(bad), bad)
    }
  }

  test("corpus plants: sealed copies share a sealed document's bag of words") {
    val c = Gen.corpus(9L, 1500)
    assert(c.exactDups > 0 && c.nearDups > 0 && c.sealedCopies > 0 && c.contaminated > 0)
    def bag(text: String) = text.split(" ").toSet
    val sealedBags = c.docs.filter(_.doc_id % 10 == 7).map(d => bag(d.text)).toSet
    val arriving = c.docs.filter(_.doc_id % 10 != 7)
    // the ingest gate drops exactly these, the curation closed form's premise
    assert(arriving.count(d => sealedBags(bag(d.text))) == c.sealedCopies)
  }
}
