package graft

import graft.tools.Probe
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The dev-tool surface: [[graft.tools.Probe.record]] sees exactly the
  * jobs and tasks a block starts, [[graft.tools.Probe.gapsBefore]] never
  * reports a negative gap, [[Bench.interleaved]]
  * samples every query once per round and turns a throwing query into a
  * JSON-safe error, and `src/main` grows no new `main` outside the
  * entry points and the four tools.
  */
class ToolsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("Probe.record counts the jobs a block starts, on its thread and on threads it spawns") {
    val sc = spark.sparkContext
    val rec = Probe.record(spark) {
      val child = new Thread(() => sc.parallelize(1 to 10, 3).map(_ + 1).count())
      child.start()
      val rows = sc.parallelize(1 to 10, 2).count()
      child.join()
      rows
    }
    assert(rec.result == 10)
    assert(rec.jobs.size == 2)
    assert(rec.jobs.map(_.id).distinct.size == 2)
    assert(rec.jobs.forall(j => j.end >= j.start))
    assert(rec.taskMs.size == 5)
    // each job carries the stages it ran: their tasks and operator scopes
    assert(rec.jobs.map(_.ops).toSet == Set("{map|parallelize}", "{parallelize}"))
    assert(rec.jobs.flatMap(_.stages).map(_.tasks).sorted == Seq(2, 3))
    // the sentinel and jobs started outside the block are not counted
    assert(Probe.record(spark)(1).jobs.isEmpty)
  }

  test("Probe.record keys future-submitted jobs by their operator scopes") {
    val sc = spark.sparkContext
    // a job submitted here names this spec's frame: keyed by its site
    val own = Probe.record(spark)(sc.parallelize(1 to 10, 2).count()).jobs
    assert(own.size == 1 && own.head.anchored, own.toString)
    assert(own.head.key == own.head.site && own.head.site.contains("ToolsSpec"))
    // AQE submits every stage of a DataFrame action from its own future:
    // no engine frame names them, so each is keyed by its operator scopes
    val df = spark.range(0, 100, 1, 2).groupBy((col("id") % 3).as("g")).count()
    val rec = Probe.record(spark)(df.collect())
    assert(rec.result.length == 3)
    assert(rec.jobs.size == 2 && rec.jobs.forall(j => !j.anchored && j.key == j.ops),
      rec.jobs.toString)
    assert(rec.jobs.head.ops == "{Exchange|WholeStageCodegen}", rec.jobs.toString)
    // the result job skips the shuffle stage the first job ran: not listed
    assert(rec.jobs.map(_.stages.map(_.tasks)) == Seq(Seq(2), Seq(1)), rec.jobs.toString)
  }

  test("Probe.gapsBefore: an overlapping job has gap 0 and its overlap; gaps sum to driver time") {
    def job(id: Int, start: Long, end: Long) =
      Probe.Job(id, start, end, "site", anchored = true, Nil)
    // two overlapping jobs (the second starts 300 ms before the first
    // ends), then a sequential pair: 200 ms and 500 ms of driver time
    val jobs = Seq(job(1, 1000, 2000), job(2, 1700, 2500),
      job(3, 2700, 3000), job(4, 3500, 3600))
    val got = Probe.gapsBefore(jobs)
    assert(got == Seq((0L, 0L), (0L, 300L), (200L, 0L), (500L, 0L)))
    assert(got.forall { case (g, o) => g >= 0 && o >= 0 })
    assert(got.map(_._1).sum == 700L)
    // a job that ends before an earlier, longer one does not hide it
    val nested = Probe.gapsBefore(Seq(job(1, 0, 1000), job(2, 100, 200),
      job(3, 1100, 1200)))
    assert(nested == Seq((0L, 0L), (0L, 900L), (100L, 0L)))
  }

  test("Bench.interleaved samples each query once per round and sanitizes errors") {
    val rounds = Bench.interleaved(spark, "unused", Seq(
      "ok" -> ((s, _) => s.range(3).toDF()),
      "boom" -> ((s, _) => throw new IllegalStateException("a \"quoted\"\nfailure"))),
      runs = 2, tag = "test", calibrate = false)
    assert(rounds.samples.keySet == Set("ok") && rounds.samples("ok").size == 2)
    assert(rounds.errors == Map("boom" -> "a  quoted  failure"))
    assert(rounds.calibration.isEmpty && rounds.calibrationShuffle.isEmpty)
  }

  test("src/main declares no main outside the entry points and the four tools") {
    val allowed = Set("graft.Main", "graft.Verify", "graft.Bench",
      "graft.tools.Probe", "graft.tools.RecallCheck", "graft.tools.ScaleGate",
      "graft.tools.ScaleProbe")
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(files.size > 50)
    val Obj = """\bobject\s+(\w+)""".r
    val mains = files.flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      val pkg = """(?m)^package\s+([\w.]+)""".r.findFirstMatchIn(text)
        .fold("")(_.group(1) + ".")
      """\bdef\s+main\s*\(""".r.findAllMatchIn(text).map { m =>
        pkg + Obj.findAllMatchIn(text.take(m.start)).toSeq.lastOption
          .fold(s"<no object in $f>")(_.group(1))
      }
    }
    assert(mains.contains("graft.tools.Probe"))
    assert(mains.toSet.subsetOf(allowed),
      s"mains outside the allowed set: ${mains.filterNot(allowed).mkString(", ")}")
  }
}
