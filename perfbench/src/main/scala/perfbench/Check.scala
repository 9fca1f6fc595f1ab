package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.unsafe.types.UTF8String

import graft.fuzzy.{FuzzyAlgorithm, Kernels}
import graft.fuzzy.FuzzyAlgorithm._

/** Reference scores from the unbounded DPs in [[Kernels]] — separate code
  * from the bounded kernels and the sweep the engine scores with. Values
  * are lowercased the way Spark's `lower()` does it, and distances are
  * normalized the way the engine normalizes them. */
object Ref {
  def lower(s: String): String = UTF8String.fromString(s).toLowerCase.toString

  def dist(algo: FuzzyAlgorithm, a0: String, b0: String): Double = {
    val a = lower(a0)
    val b = lower(b0)
    val mx = math.max(a.length, b.length)
    def norm(d: Int): Double = if (mx == 0) 0.0 else d.toDouble / mx
    algo match {
      case Levenshtein => norm(Kernels.levenshtein(a, b))
      case DamerauLevenshtein => norm(Kernels.damerau(a, b))
      case Hamming => norm(Kernels.hamming(a, b))
      case Indel =>
        val total = a.length + b.length
        if (total == 0) 0.0 else (total - 2 * Kernels.lcsLength(a, b)).toDouble / total
      case JaroWinkler => 1.0 - Kernels.jaroWinklerSim(a, b)
      case Jaro => 1.0 - Kernels.jaroSim(a, b)
    }
  }
}

/** Correctness of one match result against its generated inputs. */
final case class Verdict(rows: Int, plantedFound: Int, plantedTotal: Int,
                         errors: Seq[String])

object Check {
  private val Eps = 1e-9

  /** Verify every returned row: ids in range, values and payloads equal the
    * generated row's (so the join back is right), every score equals the
    * reference recomputation and passes its threshold, no pair twice. Then
    * count planted pairs returned; every one must be. */
  def verify(rows: Array[Row], in: Inputs, fields: Seq[FieldSpec]): Verdict = {
    val errors = mutable.ArrayBuffer.empty[String]
    def fail(msg: String): Unit = if (errors.length < 10) errors += msg
    val seen = mutable.HashSet.empty[Long]
    if (rows.nonEmpty) {
      val row0 = rows.head
      val li = row0.fieldIndex(in.left.idCol)
      val ri = row0.fieldIndex(in.right.idCol)
      val lp = row0.fieldIndex(in.left.payloadCol)
      val rp = row0.fieldIndex(in.right.payloadCol)
      val cols = fields.map { f =>
        (f, row0.fieldIndex(f.leftCol), row0.fieldIndex(f.rightCol), row0.fieldIndex(scoreCol(f)))
      }
      rows.foreach { row =>
        val l = row.getLong(li)
        val r = row.getLong(ri)
        if (l < 0 || l >= in.left.n || r < 0 || r >= in.right.n) fail(s"id out of range: ($l, $r)")
        else {
          if (!seen.add(l << 32 | r)) fail(s"pair ($l, $r) returned twice")
          if (row.getInt(lp) != Table.payload(l) || row.getInt(rp) != Table.payload(r))
            fail(s"payload does not belong to pair ($l, $r)")
          cols.foreach { case (f, lc, rc, sc) =>
            val lv = row.getString(lc)
            val rv = row.getString(rc)
            if (lv != in.left.value(f.field, l.toInt) || rv != in.right.value(f.field, r.toInt))
              fail(s"${f.field} values of pair ($l, $r) are not the generated ones")
            else {
              val d = Ref.dist(f.algo, lv, rv)
              val got = row.getDouble(sc)
              if (math.abs(got - (1.0 - d)) > Eps)
                fail(s"${f.field} score of ($lv, $rv) is $got, reference ${1.0 - d}")
              if (d > f.maxDist + Eps)
                fail(s"${f.field} pair ($lv, $rv) is below threshold ${f.threshold}")
            }
          }
        }
      }
    }
    val found = in.planted.count { case (l, r) => seen.contains(l.toLong << 32 | r) }
    if (found < in.planted.length)
      fail(s"${in.planted.length - found} of ${in.planted.length} planted pairs missing")
    Verdict(rows.length, found, in.planted.length, errors.toSeq)
  }

  /** Driver brute force: every (left row, right row) pair passing all
    * mappings for the first `slice` left rows, against every right row. */
  def bruteForce(in: Inputs, fields: Seq[FieldSpec], slice: Int): Set[(Int, Int)] = {
    val out = Set.newBuilder[(Int, Int)]
    val ls = 0 until math.min(slice, in.left.n)
    // the first mapping with a length bound prunes most pairs cheaply:
    // levenshtein and damerau distance are at least the length difference
    val lenBound = fields.find(f => f.algo == Levenshtein || f.algo == DamerauLevenshtein)
    ls.foreach { l =>
      var r = 0
      while (r < in.right.n) {
        val pass = lenBound.forall { f =>
          val a = Ref.lower(in.left.value(f.field, l))
          val b = Ref.lower(in.right.value(f.field, r))
          math.abs(a.length - b.length).toDouble / math.max(a.length, b.length) <= f.maxDist + Eps
        } && fields.forall(f => f.accepts(in.left.value(f.field, l), in.right.value(f.field, r)))
        if (pass) out += ((l, r))
        r += 1
      }
    }
    out.result()
  }

  /** Compare the brute force of a left slice with what the engine returned
    * for the same left rows; returns the mismatches. */
  def sliceErrors(rows: Array[Row], in: Inputs, fields: Seq[FieldSpec], slice: Int): Seq[String] = {
    val expected = bruteForce(in, fields, slice)
    val got = if (rows.isEmpty) Set.empty[(Int, Int)] else {
      val li = rows.head.fieldIndex(in.left.idCol)
      val ri = rows.head.fieldIndex(in.right.idCol)
      rows.iterator.map(r => (r.getLong(li).toInt, r.getLong(ri).toInt))
        .filter(_._1 < slice).toSet
    }
    val missing = expected -- got
    val extra = got -- expected
    (if (missing.nonEmpty) Seq(s"brute force: ${missing.size} pairs missing, e.g. ${missing.head}")
     else Nil) ++
      (if (extra.nonEmpty) Seq(s"brute force: ${extra.size} unexpected pairs, e.g. ${extra.head}")
       else Nil)
  }

  /** Score column name the engine gives a mapping after preprocessing. */
  def scoreCol(f: FieldSpec): String = s"${f.leftCol}_vs_${f.rightCol}_${f.algo.name}"
}
