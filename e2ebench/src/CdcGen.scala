package e2ebench

import java.security.MessageDigest
import java.util.SplittableRandom

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.sources.AvroSerde

/** Seeded CDC log generator, kept apart from the system under test: it
  * only produces Confluent-framed (key, value, offset) frames and the
  * oracle state they imply, and never calls the pipeline.
  *
  * The value is a Debezium envelope (before, after, op, ts_ms) over a
  * movies-shaped row. Version 1 of the row is (TITLE, YEAR, BUDGET, SEQ);
  * version 2 widens it with GENRE. SEQ repeats the record's offset so a
  * sink row names the change it carries. Deletions come in both forms:
  * an `op=d` record (sometimes followed by its tombstone, as Debezium
  * emits it) and a bare (key, NULL) tombstone. */
object CdcGen {
  val KeySchema: StructType = StructType(Seq(StructField("id", IntegerType, nullable = false)))
  val RowV1: StructType = StructType(Seq(
    StructField("TITLE", StringType), StructField("YEAR", IntegerType),
    StructField("BUDGET", LongType), StructField("SEQ", LongType)))
  val RowV2: StructType = RowV1.add(StructField("GENRE", StringType))
  def envelope(row: StructType): StructType = StructType(Seq(
    StructField("before", row), StructField("after", row),
    StructField("op", StringType), StructField("ts_ms", LongType)))
  val EnvV1: StructType = envelope(RowV1)
  val EnvV2: StructType = envelope(RowV2)
  private val KeyAvro = AvroSerde.avroSchema(KeySchema)
  private val EnvV1Avro = AvroSerde.avroSchema(EnvV1)
  private val EnvV2Avro = AvroSerde.avroSchema(EnvV2)

  /** Registry ids the producer frames with (key subject, value v1, v2). */
  case class Ids(key: Int, v1: Int, v2: Int)

  /** One source record. `row` is the image after the change (None for a
    * deletion). `widened` says which value version framed it. */
  case class Change(offset: Long, key: Int, op: String, row: Option[Row], tombstone: Boolean,
      widened: Boolean) {
    def isDeletion: Boolean = row.isEmpty
    def frame(ids: Ids): (Array[Byte], Array[Byte], Long) = {
      val k = AvroSerde.toBytesWithId(Row(key), KeySchema, KeyAvro, ids.key)
      if (tombstone) (k, null, offset)
      else {
        val (st, avro, id) = if (widened) (EnvV2, EnvV2Avro, ids.v2) else (EnvV1, EnvV1Avro, ids.v1)
        // an op=d record's `before` image carries its SEQ only
        val full = row.getOrElse(Row(null, null, null, offset, null))
        val img = if (widened) full else Row(full.toSeq.take(4): _*)
        val env =
          if (op == "d") Row(img, null, "d", offset)
          else Row(null, img, op, offset)
        (k, AvroSerde.toBytesWithId(env, st, avro, id), offset)
      }
    }
  }

  /** Key distributions a workload can declare. */
  sealed trait Keys { def draw(r: SplittableRandom): Int }
  case class Uniform(space: Int) extends Keys {
    def draw(r: SplittableRandom): Int = 1 + r.nextInt(space)
  }
  /** Zipf(s) over `space` keys by inverse-CDF lookup: key 1 is hottest. */
  case class Zipf(space: Int, s: Double) extends Keys {
    private val cdf = {
      val w = (1 to space).map(k => 1.0 / math.pow(k, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    def draw(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      (if (i >= 0) i else -i - 1).min(space - 1) + 1
    }
  }

  private val Genres = Array("drama", "comedy", "scifi", "noir", "western")

  /** `n` records starting at `firstOffset`. A quarter of the records
    * revisit a live key, the rest draw from `keys`. A key absent from
    * `live` gets an insert; a live key an update (85%) or a deletion
    * (15%) in one of three forms. Records from `widenAt` on are framed
    * with v2. `live` is updated in place so consecutive segments
    * continue. */
  def generate(seed: Long, keys: Keys, n: Int, firstOffset: Long, widenAt: Long,
      live: scala.collection.mutable.Set[Int]): IndexedSeq[Change] = {
    val r = new SplittableRandom(seed)
    val out = scala.collection.mutable.ArrayBuffer[Change]()
    val liveKeys = scala.collection.mutable.ArrayBuffer.from(live.toSeq.sorted)
    val slot = scala.collection.mutable.HashMap.from(liveKeys.zipWithIndex)
    def add(k: Int): Unit = { slot(k) = liveKeys.size; liveKeys += k; live += k }
    def remove(k: Int): Unit = {
      val i = slot.remove(k).get
      val last = liveKeys.remove(liveKeys.size - 1)
      if (last != k) { liveKeys(i) = last; slot(last) = i }
      live -= k
    }
    var offset = firstOffset
    while (out.size < n) {
      val key =
        if (liveKeys.nonEmpty && r.nextInt(4) == 0) liveKeys(r.nextInt(liveKeys.size))
        else keys.draw(r)
      val widened = offset >= widenAt
      def image(off: Long) = Row(s"title-$key-${r.nextInt(1000)}", 1950 + r.nextInt(70),
        r.nextLong(1L << 40), off, if (widened) Genres(r.nextInt(Genres.length)) else null)
      if (!live.contains(key)) {
        out += Change(offset, key, "c", Some(image(offset)), tombstone = false, widened)
        add(key)
      } else if (r.nextDouble() < 0.85) {
        out += Change(offset, key, "u", Some(image(offset)), tombstone = false, widened)
      } else {
        remove(key)
        r.nextInt(4) match {
          case 0 | 1 => // Debezium default: op=d, then the tombstone
            out += Change(offset, key, "d", None, tombstone = false, widened)
            offset += 1
            out += Change(offset, key, "d", None, tombstone = true, widened)
          case 2 => out += Change(offset, key, "d", None, tombstone = false, widened)
          case _ => out += Change(offset, key, "d", None, tombstone = true, widened)
        }
      }
      offset += 1
    }
    out.toIndexedSeq
  }

  /** The latest change per key: the oracle replicated table is its
    * non-deleted entries. */
  def latest(changes: Iterable[Change]): Map[Int, Change] = {
    val m = scala.collection.mutable.HashMap[Int, Change]()
    changes.foreach(c => m(c.key) = c)
    m.toMap
  }

  /** The sink row (ID, TITLE, YEAR, BUDGET, SEQ, GENRE) a live change
    * leaves in the target, as strings so JDBC and Spark values compare. */
  def sinkRow(c: Change): Seq[String] = {
    val r = c.row.get
    Seq(c.key.toString, r.getString(0), r.get(1).toString, r.get(2).toString,
      r.get(3).toString, if (c.widened) r.getString(4) else null)
  }

  /** Hash of the frames' bytes, for the determinism self-test. */
  def frameHash(changes: Seq[Change], ids: Ids): String = {
    val md = MessageDigest.getInstance("SHA-256")
    changes.foreach { c =>
      val (k, v, o) = c.frame(ids)
      md.update(k); if (v != null) md.update(v); md.update(BigInt(o).toByteArray)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Self-test of the generator: same seed → byte-identical frames,
    * different seed → different frames; the log holds both deletion
    * forms and the widening; the key skew is the declared one (the
    * hottest key's share is far above uniform for Zipf, near it for
    * Uniform). Returns the failed checks by name. */
  def selfTest(seed: Long, keys: Keys): Seq[String] = {
    val ids = Ids(1, 2, 3)
    def gen(s: Long) = generate(s, keys, 4000, 0L, 2000L, scala.collection.mutable.Set[Int]())
    val a = gen(seed)
    val checks = Seq(
      "same_seed_same_frames" -> (frameHash(a, ids) == frameHash(gen(seed), ids)),
      "other_seed_other_frames" -> (frameHash(a, ids) != frameHash(gen(seed + 1), ids)),
      "has_op_d" -> a.exists(c => c.op == "d" && !c.tombstone),
      "has_tombstone" -> a.exists(_.tombstone),
      "has_widening" -> (a.exists(_.widened) && a.exists(!_.widened)),
      "declared_skew" -> {
        val top = a.groupBy(_.key).values.map(_.size).max.toDouble / a.size
        keys match {
          case Zipf(_, _) => top > 0.05
          case Uniform(space) => top < 20.0 / space.min(a.size)
        }
      })
    checks.collect { case (name, false) => name }
  }
}
