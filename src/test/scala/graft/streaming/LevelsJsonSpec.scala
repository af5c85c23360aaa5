package graft.streaming

import graft.SparkSpec
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The book sync's snapshot row carries the snapshot's levels as JSON
  * text ([[BookSnapshot.levelsJson]]); after the sync that text is
  * parsed like a wire message's ([[Pipelines.levels]]). The round trip
  * must give back the levels exactly. */
class LevelsJsonSpec extends SparkSpec {

  // quotes, backslashes, JSON's escaped controls, the rest of C0, DEL,
  // U+2028, then printable ASCII, the BMP outside the surrogates, and
  // supplementary characters as surrogate pairs (a lone surrogate is not
  // a string Spark can hold: UTF8String would replace it with '?')
  private val genChar: Gen[String] = Gen.frequency(
    3 -> Gen.oneOf("\"", "\\", "/", "\b", "\f", "\n", "\r", "\t", "\u0000",
      "\u0001", "\u001f", "\u007f", " "),
    4 -> Gen.choose(' ', '~').map(_.toString),
    2 -> Gen.choose(' ', '퟿').map(_.toString),
    1 -> Gen.choose(0x10000, 0x10ffff).map(cp => new String(Character.toChars(cp))))

  private val genString: Gen[String] = Gen.frequency(
    1 -> Gen.const(null),
    2 -> Gen.const(""),
    12 -> Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, genChar).map(_.mkString)))

  // empty sides, short and long levels, null levels
  private val genLevels: Gen[Seq[Seq[String]]] = Gen.choose(0, 6).flatMap(n =>
    Gen.listOfN(n, Gen.frequency(
      1 -> Gen.const(null),
      10 -> Gen.choose(0, 3).flatMap(k => Gen.listOfN(k, genString)))))

  test("snapshot levels rendered to JSON parse back to the same levels") {
    import spark.implicits._
    val cases = Gen.listOfN(400, genLevels)
      .apply(Gen.Parameters.default, Seed(20261019L)).get
    val texts = cases.map(BookSnapshot.levelsJson)
    val parsed = texts.toDF("t").select(Pipelines.levels($"t"))
      .as[Seq[Seq[String]]].collect().toSeq
    assert(parsed.size == cases.size)
    cases.zip(texts).zip(parsed).foreach { case ((levels, text), back) =>
      assert(back == levels, s"text: $text")
    }
    assert(cases.exists(_.isEmpty) && cases.exists(_.exists(l => l != null && l.size < 2)))
  }
}
