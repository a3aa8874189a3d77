package transitbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import graft.gtfs._

import scala.collection.mutable

/** Tests of the harness's own logic: the percentile rule, the checkpoint
  * log → batch mapping and the expected-state builder. Run with
  * `python3 transitbench/run.py --selftest`; exits non-zero on a failure. */
object HarnessTests {
  private val failures = mutable.ArrayBuffer.empty[String]
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; passed += 1; println(s"ok   $name") }
    catch { case e: Throwable => failures += name; println(s"FAIL $name: $e") }

  private def eq[T](got: T, want: T): Unit =
    if (got != want) throw new AssertionError(s"got $got, want $want")

  def run(work: Path): Int = {
    test("nearest-rank percentile and median") {
      val xs = (1 to 10).map(_.toDouble)
      eq(Stats.percentile(xs, 0.5), 5.0)
      eq(Stats.percentile(xs, 0.9), 9.0)
      eq(Stats.percentile(xs, 1.0), 10.0)
      eq(Stats.median(xs), 5.5)
      eq(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0)
    }
    test("a tail percentile keeps at least ten samples beyond it") {
      eq(Stats.supportsTail(100, 0.9), true)
      eq(Stats.supportsTail(99, 0.9), false)
      eq(Stats.supportsTail(20, 0.5), true)
      eq(Stats.supportsTail(19, 0.5), false)
      eq(Stats.tail90((1 to 99).map(_.toDouble)), None)
      eq(Stats.tail90((1 to 100).map(_.toDouble)), Some(90.0))
      eq(Stats.supportsTail(1000, 0.99), true)
    }

    test("source log maps files to batches through a .compact file") {
      val ckpt = work.resolve("ckpt")
      Util.deleteTree(ckpt)
      val src = ckpt.resolve("sources/0")
      Files.createDirectories(src)
      Files.createDirectories(ckpt.resolve("commits"))
      def entry(b: Int, f: String) =
        s"""{"path":"file:///x/drop/$f","timestamp":1,"batchId":$b}"""
      def write(name: String, es: Seq[String]) =
        Files.write(src.resolve(name), ("v1" +: es).mkString("\n").getBytes(StandardCharsets.UTF_8))
      val files = (0 to 10).map(b => (b, Seq(s"feed_$b.pb") ++ (if (b == 4) Seq("feed_4b.pb") else Nil)))
      // batches 0-3 survive as plain files; 9.compact repeats 0-9; 10 is plain
      for ((b, fs) <- files if b <= 3 || b == 10) write(b.toString, fs.map(entry(b, _)))
      write("9.compact", files.filter(_._1 <= 9).flatMap { case (b, fs) => fs.map(entry(b, _)) })
      (0 to 10).foreach(b => Files.write(ckpt.resolve(s"commits/$b"), Array[Byte]()))
      val by = SourceLog.batchesByFile(ckpt)
      eq(by.size, 12)
      eq(by("feed_4b.pb"), Set(4L))
      eq(by("feed_7.pb"), Set(7L))
      eq(by("feed_10.pb"), Set(10L))
      eq(SourceLog.committed(ckpt), (0L to 10L).toSet)
      val landed = files.flatMap(_._2)
      eq(Feeds.batchMap(ckpt, landed).map(_("feed_4b.pb")), Right(4L))
      // numInputRows plays no part: two scans of a batch do not move it
      eq(Feeds.batchMap(ckpt, landed :+ "feed_99.pb").isLeft, true)
      Files.delete(ckpt.resolve("commits/10"))
      eq(Feeds.batchMap(ckpt, landed).isLeft, true)
    }
    test("source log flags a file listed under two batches") {
      val ckpt = work.resolve("ckpt2")
      Util.deleteTree(ckpt)
      Files.createDirectories(ckpt.resolve("sources/0"))
      Files.write(ckpt.resolve("sources/0/0"), "v1\n{\"path\":\"file:///d/a.pb\",\"batchId\":0}".getBytes)
      Files.write(ckpt.resolve("sources/0/1"), "v1\n{\"path\":\"file:///d/a.pb\",\"batchId\":1}".getBytes)
      eq(SourceLog.batchesByFile(ckpt)("a.pb"), Set(0L, 1L))
    }

    def stu(seq: Int, arr: Option[Long], dep: Option[Long], stop: String) =
      StopTimeUpdate(Some(seq), arr.map(t => StopTimeEvent(None, Some(t), None)),
        dep.map(t => StopTimeEvent(None, Some(t), None)), Some(stop))
    def ent(id: String, trip: String, date: Option[String], stus: StopTimeUpdate*) =
      FeedEntity(id, None, Some(TripUpdate(TripDescriptor(Some(trip), None, date, None), stus, None, None)))
    def msg(es: FeedEntity*) = FeedMessage(FeedHeader("2.0", None), es)
    val k1 = Key("T1", "20260601", 1, "100")
    val k2 = Key("T1", "20260601", 2, "101")
    val kNoDate = Key("T2", "", 1, "X251")

    test("expected state: last write wins across and within snapshots") {
      val e = new ExpectedState
      e.addSnapshot(msg(ent("a", "T1", Some("20260601"), stu(1, Some(10), Some(20), "100"), stu(2, Some(30), Some(40), "101"))))
      e.addSnapshot(msg(
        ent("b", "T1", Some("20260601"), stu(1, Some(11), Some(21), "100")),
        ent("c", "T2", None, stu(1, None, Some(50), "X251")),
        ent("d", "T1", Some("20260601"), stu(1, Some(12), None, "100"))))
      eq(e.state.toMap, Map(k1 -> Pred(12, 0), k2 -> Pred(30, 40), kNoDate -> Pred(0, 50)))
    }
    test("expected state: mismatches are stale, wrong or missing") {
      val e = new ExpectedState
      e.addSnapshot(msg(ent("a", "T1", Some("20260601"), stu(1, Some(10), Some(20), "100"), stu(2, Some(30), Some(40), "101"))))
      e.addSnapshot(msg(ent("b", "T1", Some("20260601"), stu(1, Some(11), Some(21), "100"))))
      eq(e.compare(Seq(k1 -> Pred(11, 21), k2 -> Pred(30, 40))).ok, true)
      eq(e.compare(Seq(k1 -> Pred(10, 20), k2 -> Pred(30, 40))), Diff(1, 0, 0))
      eq(e.compare(Seq(k1 -> Pred(11, 21), k2 -> Pred(31, 40))), Diff(0, 1, 0))
      eq(e.compare(Seq(k1 -> Pred(11, 21), k1 -> Pred(11, 21))), Diff(0, 1, 1))
    }
    test("generated feed carries the documented mess and is deterministic") {
      val m = new FeedModel(7)
      val s = m.snapshot(3)
      val keys = s.entity.flatMap(_.tripUpdate).map(_.trip.tripId.get)
      eq(keys.size > keys.distinct.size, true) // a trip sent twice
      eq(s.entity.exists(_.tripUpdate.get.trip.startDate.isEmpty), true)
      val stus = s.entity.flatMap(_.tripUpdate.get.stopTimeUpdate)
      eq(stus.exists(u => u.arrival.isEmpty && u.departure.isEmpty), true)
      eq(stus.exists(_.stopId.exists(!_.forall(_.isDigit))), true)
      eq(Rt.decode(m.payload(3)), Rt.decode(new FeedModel(7).payload(3)))
      eq(java.util.Arrays.equals(m.payload(3), new FeedModel(8).payload(3)), false)
    }
    test("expected tiles: exact decimal average and rollup totals") {
      val a = new Acc
      Seq(Some(1.0 / 120), Some(7.0 / 120), None).foreach(a.add)
      eq(a.result, Seq(java.lang.Double.valueOf((BigDecimal("0.008333") + BigDecimal("0.058333")).toDouble / 2), 3L))
      val t = MartModel(3, 40).expectedTiles(Slice(None, None, None))
      eq(t.a5(Seq(null, null))(1), t.martRows)
      eq(t.a1.values.map(_(1).asInstanceOf[Long]).sum, t.martRows)
      eq(t.a2, t.a1)
    }

    println(s"$passed passed, ${failures.size} failed")
    failures.size
  }
}
