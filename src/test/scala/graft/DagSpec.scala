package graft

import org.apache.spark.sql.functions._
import graft.pipelines.Dag

class DagSpec extends SparkSpec {

  test("runAll lands every stage with raw+legacy snapshots, in order") {
    val out = java.nio.file.Files.createTempDirectory("graft_dag_").toString
    val results = Dag.runAll(spark, sf, out)
    assert(results.map(_.name) == Seq("suppliers", "products", "customers",
      "sales", "supplier_performance", "product_performance",
      "customer_sales_report"))
    results.foreach { r =>
      assert(r.rows > 0, s"${r.name} landed no rows")
      assert(spark.read.parquet(r.path).count() == r.rows)
      val legacy = r.path.replace("/raw/", "/legacy/")
      assert(spark.read.parquet(legacy).count() == r.rows)
    }
    // running again: raw unchanged, legacy doubles (the snapshot ledger)
    val again = Dag.runAll(spark, sf, out)
    again.foreach { r =>
      assert(spark.read.parquet(r.path).count() == r.rows)
      val legacy = r.path.replace("/raw/", "/legacy/")
      assert(spark.read.parquet(legacy).count() == 2 * r.rows)
    }
  }

  test("runUsaEtl lands the second DAG's single stage, gated and snapshotted") {
    val out = java.nio.file.Files.createTempDirectory("graft_usa_").toString
    val r = Dag.runUsaEtl(spark, sf, out)
    assert(r.name == "usa_population")
    assert(r.rows > 0)
    assert(spark.read.parquet(r.path).count() == r.rows)
    assert(spark.read.parquet(r.path.replace("/raw/", "/legacy/")).count() == r.rows)
    assert(spark.read.parquet(r.path).columns.toSeq == Seq("ID_NATION",
      "NATION", "ID_YEAR", "YEAR", "POPULATION", "SLUG_NATION"))
  }

  test("the sale grain would fail a SALE_ID gate (fixture plants dups)") {
    intercept[graft.ops.DuplicateException] {
      graft.ops.Quality.gate(
        graft.model.Entities.sales(spark, sf), Seq("SALE_ID")).count()
    }
  }

  test("a flaky task succeeds on retry under the default policy") {
    var calls = 0
    val flaky = "flaky" -> { () =>
      calls += 1
      if (calls < 3) sys.error(s"transient failure $calls")
      Dag.StageResult("flaky", 1L, "mem")
    }
    val after = "downstream" -> (() => Dag.StageResult("downstream", 2L, "mem"))
    val out = Dag.runTasks(Seq(flaky, after)) // retries=2 -> 3 attempts
    assert(out == Seq(
      Dag.TaskSucceeded("flaky", Dag.StageResult("flaky", 1L, "mem"), attempts = 3),
      Dag.TaskSucceeded("downstream", Dag.StageResult("downstream", 2L, "mem"), 1)))
    assert(calls == 3)
  }

  test("a task failing past its budget aborts every downstream task") {
    var downstreamRan = false
    val gate = "gate" -> { () =>
      // a deterministic dup-gate failure: same exception every attempt
      throw new graft.ops.DuplicateException("SALE_ID grain has duplicates")
    }
    val after = "mart" -> { () =>
      downstreamRan = true
      Dag.StageResult("mart", 1L, "mem")
    }
    val out = Dag.runTasks(Seq(gate, after), Dag.RetryPolicy(retries = 2))
    assert(!downstreamRan, "downstream must never start after a failure")
    out match {
      case Seq(Dag.TaskFailed("gate", 3, cause), Dag.TaskSkipped("mart", "gate")) =>
        assert(cause.isInstanceOf[graft.ops.DuplicateException])
      case other => fail(s"unexpected outcomes: $other")
    }
  }

  test("a fan-in group genuinely runs its tasks concurrently") {
    // each task blocks until the OTHER has started: only passes if the
    // group overlaps in time (a sequential runner would deadlock — the
    // await timeout turns that into a clean failure)
    val latchA = new java.util.concurrent.CountDownLatch(1)
    val latchB = new java.util.concurrent.CountDownLatch(1)
    def task(mine: java.util.concurrent.CountDownLatch,
             other: java.util.concurrent.CountDownLatch, name: String) =
      name -> { () =>
        mine.countDown()
        if (!other.await(10, java.util.concurrent.TimeUnit.SECONDS))
          sys.error(s"$name never saw its sibling start: group not parallel")
        Dag.StageResult(name, 1L, "mem")
      }
    val out = Dag.runTaskGroups(
      Seq(Seq(task(latchA, latchB, "a"), task(latchB, latchA, "b"))),
      Dag.RetryPolicy(retries = 0))
    assert(out.forall(_.isInstanceOf[Dag.TaskSucceeded]), s"got $out")
    assert(out.map(_.name) == Seq("a", "b"), "declaration order preserved")
  }

  test("a failure inside a group lets siblings finish but skips later groups") {
    var siblingRan = false
    var laterRan = false
    val out = Dag.runTaskGroups(Seq(
      Seq(
        "boom" -> (() => sys.error("nope")),
        "sibling" -> { () => siblingRan = true; Dag.StageResult("sibling", 1L, "mem") }),
      Seq("later" -> { () => laterRan = true; Dag.StageResult("later", 1L, "mem") })),
      Dag.RetryPolicy(retries = 0))
    assert(siblingRan, "siblings already running are not killed")
    assert(!laterRan, "downstream groups never start")
    assert(out.map(_.getClass.getSimpleName) ==
      Seq("TaskFailed", "TaskSucceeded", "TaskSkipped"))
    assert(out.last == Dag.TaskSkipped("later", "boom"))
  }

  test("mapTasks expands a runtime list with per-item isolation + retries") {
    val attempts = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()
    val out = Dag.mapTasks("load_shard", Seq(10, 20, 30, 40),
      Dag.RetryPolicy(retries = 1)) { item =>
      val n = attempts.merge(item, 1, (a, b) => a + b)
      // item 20 fails EVERY attempt; item 30 is flaky (succeeds on retry)
      if (item == 20) sys.error(s"shard $item broken")
      if (item == 30 && n == 1) sys.error(s"shard $item flaky")
      Dag.StageResult(s"shard-$item", item.toLong, "mem")
    }
    // instance naming follows Airflow's map-index convention, item order kept
    assert(out.map(_.name) ==
      Seq("load_shard[0]", "load_shard[1]", "load_shard[2]", "load_shard[3]"))
    // isolation: the broken item fails after its full budget; every
    // sibling still ran to completion
    assert(out(1).isInstanceOf[Dag.TaskFailed])
    assert(out(1).asInstanceOf[Dag.TaskFailed].attempts == 2)
    assert(out.patch(1, Nil, 1).forall(_.isInstanceOf[Dag.TaskSucceeded]), s"got $out")
    assert(out(2).asInstanceOf[Dag.TaskSucceeded].attempts == 2, "flaky retried")
    assert(attempts.get(20) == 2 && attempts.get(10) == 1)
  }

  test("mapTasks over an EMPTY runtime list yields zero instances and " +
       "downstream groups still run (Airflow .expand semantics)") {
    assert(Dag.mapTasks("load_shard", Seq.empty[Int]) { _ =>
      sys.error("never called")
    } == Seq.empty)
    var laterRan = false
    val out = Dag.runTaskGroups(Seq(
      Dag.expand("shard", Seq.empty[Int]) { _ => sys.error("never") },
      Seq("publish" -> { () => laterRan = true; Dag.StageResult("publish", 1L, "mem") })))
    assert(laterRan, "empty mapped group must not block downstream")
    assert(out.map(_.name) == Seq("publish"))
    assert(out.head.isInstanceOf[Dag.TaskSucceeded])
  }

  test("a failed mapped instance skips downstream groups via runTaskGroups") {
    var laterRan = false
    val out = Dag.runTaskGroups(Seq(
      Dag.expand("shard", Seq(1, 2)) { i =>
        if (i == 2) sys.error("bad shard")
        Dag.StageResult(s"s$i", 1L, "mem")
      },
      Seq("publish" -> { () => laterRan = true; Dag.StageResult("publish", 1L, "mem") })),
      Dag.RetryPolicy(retries = 0))
    assert(!laterRan, "publish must not run after a mapped-instance failure")
    assert(out.last == Dag.TaskSkipped("publish", "shard[1]"))
  }

  test("DagTaskException carries task name, attempts, and the real cause") {
    val boom = Dag.runTasks(
      Seq("only" -> (() => sys.error("nope"))), Dag.RetryPolicy(retries = 0))
    val failed = boom.head.asInstanceOf[Dag.TaskFailed]
    assert(failed.attempts == 1)
    val ex = Dag.DagTaskException("only", failed.attempts, failed.cause)
    assert(ex.getMessage == "task 'only' failed after 1 attempt(s)")
    assert(ex.getCause.getMessage == "nope")
  }

  test("a task failing three times keeps every attempt's cause") {
    var calls = 0
    val out = Dag.runTasks(Seq("flaky" -> { () =>
      calls += 1
      sys.error(s"failure $calls")
    }), Dag.RetryPolicy(retries = 2))
    out match {
      case Seq(Dag.TaskFailed("flaky", 3, cause)) =>
        assert(cause.getMessage == "failure 3")
        assert(cause.getSuppressed.map(_.getMessage).toSeq == Seq("failure 1", "failure 2"))
      case other => fail(s"unexpected outcomes: $other")
    }
  }

  private def children(dir: String): Seq[String] =
    Option(new java.io.File(dir).list()).map(_.toSeq.sorted).getOrElse(Nil)

  private def contents(path: String): Seq[String] =
    spark.read.parquet(path).collect().map(_.toString).toSeq.sorted

  test("a failed landing leaves the previous raw and legacy in place") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_dag_fail_").toString
    val (raw, legacy) = (s"$out/raw/suppliers", s"$out/legacy/suppliers")
    def land(df: => org.apache.spark.sql.DataFrame) = Dag.runTasks(Seq("suppliers" -> { () =>
      Dag.StageResult("suppliers", graft.io.Sinks.land(df, raw, legacy, Seq("SUPPLIER_ID")), raw)
    }), Dag.RetryPolicy(retries = 0)).head
    assert(land(Seq((1, "a"), (2, "b")).toDF("SUPPLIER_ID", "NAME")) ==
      Dag.TaskSucceeded("suppliers", Dag.StageResult("suppliers", 2L, raw), 1))
    val (rawBefore, legacyBefore) = (contents(raw), contents(legacy))

    // a duplicate key: the gate fails after the staged write, before publish
    land(Seq((3, "c"), (3, "d")).toDF("SUPPLIER_ID", "NAME")) match {
      case Dag.TaskFailed(_, _, cause) => assert(cause.isInstanceOf[graft.ops.DuplicateException])
      case other => fail(s"dup gate did not fail the task: $other")
    }
    assert(contents(raw) == rawBefore && contents(legacy) == legacyBefore)
    assert(children(s"$out/raw") == Seq("suppliers"), "no staging dir left behind")

    // a frame that fails mid-write (a range, not a local relation, so the
    // error is raised by the write job, not folded away while planning):
    // the previous raw stays readable
    val failing = spark.range(4, 6).select($"id".cast("int").as("SUPPLIER_ID"),
      when($"id" === 5, raise_error(lit("bad row"))).otherwise(lit("e")).as("NAME"))
    assert(land(failing).isInstanceOf[Dag.TaskFailed])
    assert(contents(raw) == rawBefore && contents(legacy) == legacyBefore)
    assert(children(s"$out/raw") == Seq("suppliers"), "no staging dir left behind")
  }
}
