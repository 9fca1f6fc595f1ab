package perfbench

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.fuzzy.{FuzzyAlgorithm, Kernels}

class GenSpec extends AnyFunSuite {

  private val props = Props(leftRows = 3000, rightRows = 2000, minLen = 12, maxLen = 30,
    plantedShare = 0.5, typoRate = 0.05, dupShare = 0.3, nonAsciiShare = 0.05)
  private val fields = Seq(
    FieldSpec("name", "name", 1.0, FuzzyAlgorithm.JaroWinkler, 88),
    FieldSpec("street", "street", 0.5, FuzzyAlgorithm.DamerauLevenshtein, 80),
    FieldSpec("postcode", "postcode", 0.2, FuzzyAlgorithm.Indel, 75))

  private def same(a: Inputs, b: Inputs): Boolean =
    a.left.values.map(_.toSeq).toSeq == b.left.values.map(_.toSeq).toSeq &&
      a.right.values.map(_.toSeq).toSeq == b.right.values.map(_.toSeq).toSeq &&
      a.planted.toSeq == b.planted.toSeq

  test("the same seed gives the same inputs, another seed other inputs") {
    assert(same(Gen.inputs(7, fields, props), Gen.inputs(7, fields, props)))
    assert(!same(Gen.inputs(7, fields, props), Gen.inputs(8, fields, props)))
  }

  test("sides have the stated row counts and every planted pair passes every mapping") {
    val in = Gen.inputs(11, fields, props)
    assert(in.left.n == props.leftRows && in.right.n == props.rightRows)
    assert(in.planted.nonEmpty)
    in.planted.foreach { case (l, r) =>
      fields.foreach { f =>
        assert(f.accepts(in.left.value(f.field, l), in.right.value(f.field, r)),
          s"planted ($l, $r) fails ${f.field}")
      }
    }
  }

  test("planted, duplicate and non-ASCII shares are close to the stated ones") {
    val in = Gen.inputs(12, fields, props)
    val plantedRows = in.planted.map(_._1).distinct.length.toDouble / props.leftRows
    // a duplicate inherits the planted partner of the row it copies
    assert(math.abs(plantedRows - props.plantedShare) < 0.05)
    val names = in.right.values(0)
    val dupShare = 1.0 - names.distinct.length.toDouble / names.length
    assert(math.abs(dupShare - props.dupShare) < 0.05)
    val nonAscii = names.distinct.count(_.exists(_ > 127)).toDouble / names.distinct.length
    assert(math.abs(nonAscii - props.nonAsciiShare) < 0.03)
  }

  test("fresh names respect the length range") {
    val r = new Random(3)
    (0 until 2000).foreach { _ =>
      val n = Gen.name(r, 12, 30)
      assert(n.length >= 12 && n.length <= 30, n)
    }
  }

  test("a typo of k edits is within k Damerau-Levenshtein edits") {
    val r = new Random(5)
    (0 until 2000).foreach { _ =>
      val s = Gen.name(r, 10, 25)
      val k = 1 + r.nextInt(3)
      val t = Gen.typo(r, s, k)
      assert(Kernels.damerau(s, t) <= k, s"$s -> $t")
    }
  }
}
