package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import graft.fuzzy.FuzzyAlgorithm

/** One match column: how its values are generated and how it is matched. */
final case class FieldSpec(field: String, kind: String, pool: Double,
                           algo: FuzzyAlgorithm, threshold: Int) {
  def leftCol: String = s"l_$field"
  def rightCol: String = s"r_$field"
  /** Normalized-distance bound the engine applies (FuzzyMapping.reversedThresholdScore). */
  def maxDist: Double = (100 - threshold).toDouble / 100.0
  def accepts(a: String, b: String): Boolean = Ref.dist(algo, a, b) <= maxDist
}

/** Input properties of a workload (see workloads.json). */
final case class Props(leftRows: Int, rightRows: Int, minLen: Int, maxLen: Int,
                       plantedShare: Double, typoRate: Double, dupShare: Double,
                       nonAsciiShare: Double)

/** One side of a join: row `i` has id `i`, one value per field, and a
  * payload derived from the id (so a wrong join back shows). */
final case class Table(prefix: String, fields: Seq[String], values: Array[Array[String]]) {
  def n: Int = values.headOption.map(_.length).getOrElse(0)
  def value(field: String, i: Int): String = values(fields.indexOf(field))(i)
  def idCol: String = s"${prefix}_id"
  def payloadCol: String = s"${prefix}_payload"
}

object Table {
  def payload(id: Long): Int = ((id * 2654435761L) >>> 11).toInt & 0xfffff
}

/** Generated inputs. `planted` holds (left id, right id) pairs built as a
  * typo'd copy of a right row, each verified against every mapping with the
  * reference kernels, so every planted pair is a true match. */
final case class Inputs(left: Table, right: Table, planted: Array[(Int, Int)])

/** Seeded synthetic name-like strings with injected insert, delete,
  * substitute and transpose typos. The same seed gives the same inputs. */
object Gen {
  private val Consonants = "bcdfghjklmnprstvwz"
  private val Vowels = "aeiouy"
  private val NonAscii = "éüñøåçöá"
  private val StreetKinds = Array("Street", "Road", "Lane", "Avenue", "Close", "Way", "Drive")

  private def word(r: Random, len: Int): String = {
    val sb = new StringBuilder
    var consonant = r.nextBoolean()
    while (sb.length < len) {
      val src = if (consonant) Consonants else Vowels
      sb += src.charAt(r.nextInt(src.length))
      // mostly alternate, sometimes double a consonant or vowel
      if (r.nextDouble() < 0.8) consonant = !consonant
    }
    sb.result().capitalize
  }

  /** Capitalised words separated by spaces, total length in [minLen, maxLen]. */
  def name(r: Random, minLen: Int, maxLen: Int): String = {
    val target = minLen + r.nextInt(maxLen - minLen + 1)
    val sb = new StringBuilder
    while (sb.length < target) {
      val room = target - sb.length - (if (sb.isEmpty) 0 else 1)
      val len = if (room <= 10) room else 3 + r.nextInt(7)
      if (len >= 2) {
        if (sb.nonEmpty) sb += ' '
        sb ++= word(r, len)
      } else sb ++= word(r, target - sb.length).toLowerCase
    }
    sb.result()
  }

  def street(r: Random, minLen: Int, maxLen: Int): String =
    s"${1 + r.nextInt(300)} ${name(r, math.max(4, minLen - 10), math.max(5, maxLen - 12))} " +
      StreetKinds(r.nextInt(StreetKinds.length))

  def postcode(r: Random): String = {
    def letter = ('A' + r.nextInt(26)).toChar
    def digit = ('0' + r.nextInt(10)).toChar
    s"$letter$letter$digit$digit $digit$letter$letter"
  }

  private def fresh(r: Random, kind: String, p: Props): String = {
    val v = kind match {
      case "name" => name(r, p.minLen, p.maxLen)
      case "street" => street(r, p.minLen, p.maxLen)
      case "postcode" => postcode(r)
      case other => throw new IllegalArgumentException(s"unknown value kind $other")
    }
    if (r.nextDouble() < p.nonAsciiShare) withNonAscii(r, v) else v
  }

  /** Replace one non-space character with a non-ASCII letter. */
  def withNonAscii(r: Random, s: String): String = {
    val positions = s.indices.filter(s.charAt(_) != ' ')
    if (positions.isEmpty) s
    else {
      val p = positions(r.nextInt(positions.length))
      s.updated(p, NonAscii.charAt(r.nextInt(NonAscii.length)))
    }
  }

  /** Apply `edits` random insert / delete / substitute / transpose typos. */
  def typo(r: Random, s: String, edits: Int): String = {
    val sb = new StringBuilder(s)
    var e = 0
    while (e < edits && sb.length > 1) {
      val p = r.nextInt(sb.length)
      val c = (Consonants + Vowels).charAt(r.nextInt(Consonants.length + Vowels.length))
      r.nextInt(4) match {
        case 0 => sb.insert(p, c)
        case 1 => sb.deleteCharAt(p)
        case 2 => sb.setCharAt(p, if (sb.charAt(p) == c) 'x' else c)
        case _ =>
          val q = if (p + 1 < sb.length) p + 1 else p - 1
          val t = sb.charAt(p); sb.setCharAt(p, sb.charAt(q)); sb.setCharAt(q, t)
      }
      e += 1
    }
    sb.result()
  }

  /** A typo'd copy of `v` that `f` still accepts: `typoRate` edits per
    * character (at least one), fewer if the pair would fall below the
    * threshold, and an exact copy as the last resort. */
  private def plantedCopy(r: Random, f: FieldSpec, v: String, typoRate: Double): String = {
    var edits = math.max(1, (typoRate * v.length + r.nextDouble()).toInt)
    while (edits > 0) {
      var attempt = 0
      while (attempt < 4) {
        val t = typo(r, v, edits)
        if (t.nonEmpty && f.accepts(t, v)) return t
        attempt += 1
      }
      edits -= 1
    }
    v
  }

  /** Right side: values per field from a pool of `pool * rows` values;
    * `dupShare` of rows repeat every match value of an earlier row. */
  def right(r: Random, fields: Seq[FieldSpec], p: Props, rows: Int): Table = {
    val pools = fields.map(f => poolOf(r, f, p, rows))
    val cols = fields.map(_ => new Array[String](rows)).toArray
    var i = 0
    while (i < rows) {
      if (i > 0 && r.nextDouble() < p.dupShare) {
        val j = r.nextInt(i)
        cols.foreach(c => c(i) = c(j))
      } else fields.indices.foreach(k => cols(k)(i) = draw(r, pools(k), fields(k), p))
      i += 1
    }
    Table("r", fields.map(_.field), cols)
  }

  private def poolOf(r: Random, f: FieldSpec, p: Props, rows: Int): Option[Array[String]] =
    if (f.pool >= 1.0) None
    else Some(Array.fill(math.max(1, (f.pool * rows).toInt))(fresh(r, f.kind, p)))

  private def draw(r: Random, pool: Option[Array[String]], f: FieldSpec, p: Props): String =
    pool match {
      case Some(vs) => vs(r.nextInt(vs.length))
      case None => fresh(r, f.kind, p)
    }

  /** Left side against `right`: `plantedShare` of rows are typo'd copies of
    * a random right row (recorded as planted), `dupShare` repeat an earlier
    * left row (and inherit its planted partner), the rest are fresh values. */
  def left(r: Random, fields: Seq[FieldSpec], p: Props, rows: Int,
           right: Table): (Table, Array[(Int, Int)]) = {
    val pools = fields.map(f => poolOf(r, f, p, rows))
    val cols = fields.map(_ => new Array[String](rows)).toArray
    val partner = Array.fill(rows)(-1)
    var i = 0
    while (i < rows) {
      if (i > 0 && r.nextDouble() < p.dupShare) {
        val j = r.nextInt(i)
        cols.foreach(c => c(i) = c(j))
        partner(i) = partner(j)
      } else if (right.n > 0 && r.nextDouble() < p.plantedShare) {
        val j = r.nextInt(right.n)
        fields.indices.foreach { k =>
          cols(k)(i) = plantedCopy(r, fields(k), right.values(k)(j), p.typoRate)
        }
        partner(i) = j
      } else fields.indices.foreach(k => cols(k)(i) = draw(r, pools(k), fields(k), p))
      i += 1
    }
    val planted = partner.indices.collect { case l if partner(l) >= 0 => (l, partner(l)) }
    (Table("l", fields.map(_.field), cols), planted.toArray)
  }

  /** Both sides of a workload from one seed. */
  def inputs(seed: Long, fields: Seq[FieldSpec], p: Props): Inputs = {
    val r = new Random(seed)
    val rt = right(r, fields, p, p.rightRows)
    val (lt, planted) = left(r, fields, p, p.leftRows, rt)
    Inputs(lt, rt, planted)
  }

  /** Uniform (left value, right value) samples plus planted pairs, for the
    * single-thread kernel loop. */
  def samplePairs(seed: Long, in: Inputs, field: String, n: Int): Array[(String, String)] = {
    val r = new Random(seed ^ 0x5eed)
    val out = ArrayBuffer.empty[(String, String)]
    val k = in.left.fields.indexOf(field)
    val planted = in.planted.take(n / 10)
    planted.foreach { case (l, rr) => out += ((in.left.values(k)(l), in.right.values(k)(rr))) }
    while (out.length < n)
      out += ((in.left.values(k)(r.nextInt(in.left.n)), in.right.values(k)(r.nextInt(in.right.n))))
    out.toArray
  }
}
