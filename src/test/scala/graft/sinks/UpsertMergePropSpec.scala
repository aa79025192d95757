package graft.sinks

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.matchers.should.Matchers

import graft.SparkTestBase

/**
 * Property test of `ParquetKeyedTable.merge` against a plain-Scala model
 * of keyed MERGE: random CDC sequences (creates, updates, deletes,
 * re-inserts of deleted keys over a small key space, equal `__ts_ms`
 * ties, one null-key row) cut into epochs at random boundaries. After
 * every epoch the table must equal the model — per epoch the newest row
 * per key wins, deletes remove the key, null keys never match — and a
 * replay of the epoch, with a different payload, must change nothing.
 *
 * Plain scalacheck (no scalatestplus bridge offline): fixed-seed sample
 * batches instead of forAll, like JdbcDialectPropSpec.
 */
class UpsertMergePropSpec extends SparkTestBase with Matchers {
  import UpsertMergePropSpec.Ev

  private type Row = (Option[Long], String, Long, String)

  private def samples[A](gen: Gen[A], n: Int, seed: Long): Seq[A] =
    Gen.listOfN(n, gen).pureApply(Gen.Parameters.default, Seed(seed))

  /** Epochs of events: ts steps by 0 or 1 (ties), keys 1..4, one event
    * moved to the null key, cuts between any two events. */
  private val epochsGen: Gen[Seq[Seq[Ev]]] = for {
    n <- Gen.chooseNum(6, 16)
    ops <- Gen.listOfN(n, for {
      key <- Gen.chooseNum(1L, 4L)
      deleted <- Gen.frequency(2 -> true, 5 -> false)
      step <- Gen.oneOf(0L, 1L)
    } yield (key, deleted, step))
    nullAt <- Gen.chooseNum(0, n - 1)
    cuts <- Gen.listOfN(n - 1, Gen.prob(0.3))
  } yield {
    val ts = ops.map(_._3).scanLeft(100L)(_ + _).tail
    val evs = ops.zip(ts).zipWithIndex.map { case (((key, deleted, _), t), i) =>
      Ev(if (i == nullAt) None else Some(key), f"e$i%02d", t, deleted)
    }
    val starts = 0 +: cuts.zipWithIndex.collect { case (true, i) => i + 1 }
    starts.zip(starts.tail :+ n).map { case (a, b) => evs.slice(a, b) }
  }

  /** The model: keyed rows plus the null-key rows, which never match. */
  private def applyEpoch(state: (Map[Long, Ev], Seq[Ev]), epoch: Seq[Ev]) = {
    val (keyed, nullKeyed) = state
    epoch.groupBy(_.id).values.map(_.maxBy(e => (e.ts, e.name)))
      .foldLeft((keyed, nullKeyed)) {
        case ((k, nk), e) if e.deleted => (e.id.fold(k)(k - _), nk)
        case ((k, nk), e) => e.id.fold((k, nk :+ e))(id => (k + (id -> e), nk))
      }
  }

  private def row(e: Ev): Row = (e.id, e.name, e.ts, e.deleted.toString)

  private def toDF(epoch: Seq[Ev]): DataFrame = {
    val ss = spark
    import ss.implicits._
    epoch.map(row).toDF("id", "name", "__ts_ms", "__deleted")
  }

  private def tableRows(t: ParquetKeyedTable): Seq[Row] =
    t.read(spark).get.collect().toSeq.map { r =>
      (Option(r.getAs[java.lang.Long]("id")).map(_.longValue), r.getAs[String]("name"),
        r.getAs[Long]("__ts_ms"), r.getAs[String]("__deleted"))
    }.sortBy(_.toString)

  test("merge equals the newest-wins model after every random epoch, and replays are no-ops") {
    val order = Seq(col("__ts_ms").desc, col("name").desc)
    val isDelete = col("__deleted") === "true"
    samples(epochsGen, 10, seed = 20261017L).foreach { epochs =>
      val t = new ParquetKeyedTable(Files.createTempDirectory("graft-merge-prop").toString,
        Seq("id"))
      epochs.zipWithIndex.foldLeft((Map.empty[Long, Ev], Seq.empty[Ev])) {
        case (state, (epoch, e)) =>
          val next = applyEpoch(state, epoch)
          val expected = (next._1.values ++ next._2).map(row).toSeq.sortBy(_.toString)
          t.merge(toDF(epoch), e.toLong, order, isDelete)
          withClue(s"epochs $epochs, after epoch $e: ") {
            tableRows(t) shouldBe expected
            t.merge(toDF(epoch.map(_.copy(name = "replayed", ts = 999L))), e.toLong,
              order, isDelete)
            tableRows(t) shouldBe expected
          }
          next
      }
    }
  }
}

object UpsertMergePropSpec {
  /** One change event; `name` is unique per event and breaks ts ties. */
  final case class Ev(id: Option[Long], name: String, ts: Long, deleted: Boolean)
}
