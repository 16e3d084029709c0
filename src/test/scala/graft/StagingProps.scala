package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink
import graft.nhl.{Schemas, Staging}

/** `Staging.nullOutDivisionRows` against the reference's own rule,
  * `CASE WHEN UPPER(c) LIKE '%DIVISION%' THEN NULL`, row for row, on
  * strings built from the letters of "division" in both cases, the
  * characters whose uppercase is or resembles one of them (ı ſ İ ß ﬁ
  * ŉ), spaces and nulls. Most cells hold one spelling of the word, so
  * every character class of the pattern is exercised. */
object StagingProps extends Properties("graft.staging") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(20)

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val i = Seq("i", "I", "ı", "İ")
  private val letters: Seq[Seq[String]] = Seq(Seq("d", "D"), i,
    Seq("v", "V"), i, Seq("s", "S", "ſ", "ß"), i, Seq("o", "O"),
    Seq("n", "N", "ŉ"))
  private val noise = Gen.listOf(Gen.oneOf(Seq("d", "D", "i", "I", "v",
    "V", "s", "S", "o", "O", "n", "N", "ı", "ſ", "İ", "ß", "ﬁ", "ŉ", " ")))
    .map(_.take(6).mkString)
  private val word: Gen[String] =
    Gen.sequence[Seq[String], String](letters.map(Gen.oneOf(_)))
      .map(_.mkString)
  private val cell: Gen[Option[String]] = Gen.frequency(
    1 -> Gen.const(None),
    1 -> noise.map(Some(_)),
    4 -> (for (a <- noise; w <- word; b <- noise) yield Some(a + w + b)))
  private val cols = Schemas.teamStatsCols
  private val table: Gen[Seq[Seq[Option[String]]]] =
    Gen.chooseNum(1, 12).flatMap(n =>
      Gen.listOfN(n, Gen.listOfN(cols.size, cell)))

  private def frame(rows: Seq[Seq[Option[String]]]): DataFrame =
    rows.zipWithIndex.map { case (r, id) => (id, r) }.toDF("id", "r")
      .select(col("id") +: cols.indices.map(j => col("r")(j).as(cols(j))): _*)

  private def reference(df: DataFrame): DataFrame =
    cols.foldLeft(df) { (d, c) =>
      d.withColumn(c,
        when(upper(col(c)).like("%DIVISION%"), lit(null)).otherwise(col(c)))
    }

  private def sorted(df: DataFrame): Seq[Seq[Any]] =
    df.orderBy("id").collect().toSeq.map(_.toSeq)

  property("nullOutDivisionRows == UPPER(c) LIKE '%DIVISION%' row for row") =
    forAllNoShrink(table) { rows =>
      val df = frame(rows)
      sorted(Staging.nullOutDivisionRows(df)) == sorted(reference(df))
    }
}
