package graft.sources.rfc

import java.util.regex.Pattern

import org.scalacheck.{Gen, Prop, Properties}

/** The `sap-rfc` reader's literal WA splitter agrees with
  * `String.split(Pattern.quote(d), -1)`, the regex split it replaces, for
  * every non-empty delimiter: regex metacharacters, multi-character and
  * self-overlapping delimiters, and leading, trailing and adjacent
  * delimiters. Driver-side pure function — no Spark session needed. */
object RfcSplitProps extends Properties("RfcPartitionReader.split") {

  private def regexSplit(s: String, d: String): Seq[String] =
    s.split(Pattern.quote(d), -1).toSeq

  private val chars = Gen.oneOf('a', 'b', 'E', 'Q', '`', '|', '.', '$',
    '\\', ' ', '*')

  private val delimGen: Gen[String] = Gen.oneOf(
    Gen.oneOf("`", "``", "|", ".", "$", "\\", "\\E", "\\E|", "\\Q", "a",
      "aa", "aba", ".*"),
    Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n, chars).map(_.mkString)))

  /** Rows built from cells, whole delimiters and delimiter fragments, so
    * matches sit at the start, at the end and next to each other. */
  private def rowGen(d: String): Gen[String] = {
    val piece = Gen.frequency(
      3 -> Gen.const(d),
      1 -> Gen.chooseNum(1, d.length).map(d.take),
      3 -> Gen.chooseNum(0, 4).flatMap(n =>
        Gen.listOfN(n, chars).map(_.mkString)))
    Gen.chooseNum(0, 10).flatMap(n => Gen.listOfN(n, piece).map(_.mkString))
  }

  property("equals the quoted-regex split") =
    Prop.forAll(delimGen.flatMap(d => rowGen(d).map(d -> _))) {
      case (d, s) => RfcPartitionReader.split(s, d).toSeq == regexSplit(s, d)
    }

  property("edge cases") = Prop.all(Seq(
    ("`````", "``"), ("", "`"), ("`", "`"), ("``a``", "`"), ("a", "`"),
    ("a|b||c|", "|"), ("x\\E|y\\E|", "\\E|"), ("a.b$c\\d", "."),
    ("aaaa", "aa"), ("abababa", "aba")).map { case (s, d) =>
    Prop(RfcPartitionReader.split(s, d).toSeq == regexSplit(s, d)) :|
      s"split(${'"'}$s${'"'}, ${'"'}$d${'"'})"
  }: _*)
}
