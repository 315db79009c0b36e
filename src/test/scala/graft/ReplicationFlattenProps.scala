package graft

import java.util.Locale

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.streaming.ReplicationPipeline

/** ScalaCheck properties for the facade's flatten projection — the
  * column-shape contract every auto-created sink table and every MERGE
  * bind order rests on. For RANDOM key structs, record images (names
  * that case-collide with keys included), and projection subsets, the
  * output schema must be: every key column first (uppercased, in
  * keyFields order), then the record columns (projection or full image,
  * key-named fields excluded CASE-INSENSITIVELY, `__deleted` excluded
  * wherever the caller put it), then `__DELETED` exactly once, last.
  *
  * Plan-only — flatten is evaluated via `.schema` on an empty frame, so
  * no Spark job runs and the case count stays generous. */
object ReplicationFlattenProps extends Properties("ReplicationFlatten") {

  private val spark = TestSpark.spark

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(60)

  private val colNameGen: Gen[String] =
    Gen.zip(Gen.alphaChar, Gen.alphaNumStr.map(_.take(5)))
      .map { case (h, t) => (h + t).toLowerCase(Locale.ROOT) }

  private val fixture: Gen[(Seq[String], Seq[String], Seq[String])] = for {
    nKeys <- Gen.chooseNum(1, 3)
    keys0 <- Gen.listOfN(nKeys, colNameGen)
    keys = keys0.distinct
    nRec <- Gen.chooseNum(1, 5)
    rec0 <- Gen.listOfN(nRec, colNameGen)
    // the record image may carry the key's own field (the normal
    // Debezium shape), sometimes CASE-SHUFFLED — flatten must exclude it
    // case-insensitively either way
    withKeyEcho <- Gen.oneOf(Nil, keys.take(1), keys.take(1).map(_.toUpperCase(Locale.ROOT)))
    rec = (rec0 ++ withKeyEcho).distinct
      .filterNot(c => c != c.toLowerCase(Locale.ROOT) &&
        rec0.contains(c.toLowerCase(Locale.ROOT))) // no case-dup columns within one struct
    projN <- Gen.chooseNum(0, rec.size)
    project <- Gen.pick(projN, rec)
  } yield (keys, rec, project.toSeq)

  /** Plan-only envelope (no rows) for the schema-contract properties. */
  private def envelopeFrame(keys: Seq[String], rec: Seq[String]) =
    envelopeRows(keys, rec, Nil)

  private def up(s: String) = s.toUpperCase(Locale.ROOT)

  property("output = keys.upper ++ (projection-or-image minus keys minus __deleted).upper :+ __DELETED") =
    Prop.forAll(fixture) { case (keys, rec, project) =>
      val got = ReplicationPipeline
        .flatten(envelopeFrame(keys, rec), keys, project)
        .schema.fieldNames.toSeq
      val body = (if (project.nonEmpty) project else rec)
        .filterNot(c => c == "__deleted" || keys.exists(_.equalsIgnoreCase(c)))
      val want = keys.map(up) ++ body.map(up) :+ "__DELETED"
      Prop(got == want) :| s"keys=$keys rec=$rec project=$project got=$got want=$want"
    }

  property("__DELETED appears exactly once, last — even when the image carries __deleted") =
    Prop.forAll(fixture) { case (keys, rec0, _) =>
      val rec = (rec0 :+ "__deleted").distinct
      val got = ReplicationPipeline
        .flatten(envelopeFrame(keys, rec), keys)
        .schema.fieldNames.toSeq
      Prop(got.count(_ == "__DELETED") == 1 && got.last == "__DELETED") :|
        s"rec=$rec got=$got"
    }

  property("projecting the marker in ANY case never duplicates it") =
    Prop.forAll(fixture, Gen.oneOf("__deleted", "__DELETED", "__Deleted")) {
      case ((keys, rec, project), marker) =>
        // the output columns are uppercased, so users write projections
        // from observed sink columns — "__DELETED" must be recognized
        // as the marker, not treated as one more record column
        val got = ReplicationPipeline
          .flatten(envelopeFrame(keys, rec), keys, project :+ marker)
          .schema.fieldNames.toSeq
        Prop(got.count(_.equalsIgnoreCase("__deleted")) == 1 && got.last == "__DELETED") :|
          s"marker=$marker got=$got"
    }

  // --- value (not just schema) parity with the oracle-checked B2 op ---

  private val dataFixture: Gen[(Seq[String], Seq[String], Seq[String],
      Seq[(Seq[Int], Seq[Option[String]])])] = for {
    (keys, rec, project) <- fixture
    n <- Gen.chooseNum(1, 3)
    rows <- Gen.listOfN(n, Gen.zip(
      Gen.listOfN(keys.size, Gen.chooseNum(-100, 100)),
      Gen.listOfN(rec.size, Gen.option(Gen.alphaNumStr.map(_.take(6))))))
  } yield (keys, rec, project, rows)

  /** The one envelope-shape builder both property families share (the
    * plan-only props pass no data): (kafka_key, kafka_value, offset)
    * with all-insert images — flatten is a pure projection, so insert
    * rows cover the value contract. */
  private def envelopeRows(
      keys: Seq[String], rec: Seq[String],
      data: Seq[(Seq[Int], Seq[Option[String]])]) = {
    val keySt = StructType(keys.map(k => StructField(k, IntegerType, nullable = false)))
    val payload = StructType(rec.map(c => StructField(c, StringType)))
    val envSt = StructType(Seq(
      StructField("kafka_key", keySt),
      StructField("kafka_value", StructType(Seq(
        StructField("before", payload),
        StructField("after", payload),
        StructField("op", StringType),
        StructField("ts_ms", LongType)))),
      StructField("offset", LongType, nullable = false)))
    val rows = new java.util.ArrayList[Row]()
    data.zipWithIndex.foreach { case ((kv, pv), i) =>
      rows.add(Row(
        Row(kv: _*),
        Row(null, Row(pv.map(_.orNull): _*), "c", i.toLong),
        i.toLong))
    }
    spark.createDataFrame(rows, envSt)
  }

  property("non-key payload VALUES equal projectUpper of the unwrapped image (B2 parity)") =
    Prop.forAll(dataFixture) { case (keys, rec, project, data) =>
      // the facade's projection must be projectUpper (the oracle-checked
      // B2 operator) of the unwrapped record image on the non-key
      // columns — same VALUES, not just the same column shape (r19
      // verdict ask: the last seam between facade and operator)
      val env = envelopeRows(keys, rec, data)
      val body = (if (project.nonEmpty) project else rec)
        .filterNot(c => c == "__deleted" || keys.exists(_.equalsIgnoreCase(c)))
      val viaFacade = ReplicationPipeline.flatten(env, keys, project)
        .select(body.map(c => col(up(c))): _*)
        .collect().map(_.toSeq).toSeq
      val image = graft.sources.Cdc.unwrap(env).select(col("record.*"))
      val viaOp = graft.ops.Relational.projectUpper(image, body)
        .collect().map(_.toSeq).toSeq
      Prop(viaFacade.sortBy(_.mkString("|")) == viaOp.sortBy(_.mkString("|"))) :|
        s"keys=$keys rec=$rec project=$project facade=$viaFacade op=$viaOp"
    }
}
