package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class HelpersSpec extends AnyFunSuite {

  test("tail is the highest order statistic with ten samples beyond it") {
    assert(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
    val t20 = Stats.tail((1 to 20).reverse.map(_.toDouble)).get
    assert(t20.value == 10.0 && t20.percentile == 50.0 && t20.samples == 20)
    val t100 = Stats.tail(scala.util.Random.shuffle((1 to 100).map(_.toDouble))).get
    assert(t100.value == 90.0 && t100.percentile == 90.0)
    assert((1 to 100).count(_ > t100.value) == 10)
  }

  test("median uses the midpoint for even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  private def bytes(xs: Seq[Any]): Seq[Byte] = xs.mkString("\n").getBytes("UTF-8").toSeq

  test("the same seed gives a byte-identical op sequence and inputs") {
    for (seed <- Seq(1L, 42L)) {
      assert(bytes(JxRead.opSequence(seed, 2000)) == bytes(JxRead.opSequence(seed, 2000)))
      assert(bytes(StoreRw.opSequence(seed, 2000)) == bytes(StoreRw.opSequence(seed, 2000)))
      assert(bytes(EtlIncremental.opSequence(seed).describe(200)) ==
        bytes(EtlIncremental.opSequence(seed).describe(200)))
      assert(OpsCurate.queryIds(seed) == OpsCurate.queryIds(seed))
      assert(bytes(Gen.documents(seed, 300)) == bytes(Gen.documents(seed, 300)))
      val a = Gen.snowflake(seed, java.time.LocalDate.of(1997, 1, 1), java.time.LocalDate.of(1997, 3, 1), 2, 5, 50)
      val b = Gen.snowflake(seed, java.time.LocalDate.of(1997, 1, 1), java.time.LocalDate.of(1997, 3, 1), 2, 5, 50)
      assert(a == b)
      assert(Gen.embeddings(seed, 50).map(_.embedding.toSeq) == Gen.embeddings(seed, 50).map(_.embedding.toSeq))
    }
    assert(JxRead.opSequence(1, 200) != JxRead.opSequence(2, 200))
    assert(StoreRw.opSequence(1, 200) != StoreRw.opSequence(2, 200))
    assert(OpsCurate.queryIds(1) != OpsCurate.queryIds(2))
  }

  test("template queries carry their result format") {
    for (t <- JxRead.Templates; l <- t.literals)
      assert(graft.jx.JxQuery.parse(t.query(l)).format == (if (t.cube) "cube" else "table"), t.name)
  }

  test("embeddings are 64-d unit vectors with labels 0 to 9") {
    val e = Gen.embeddings(7, 500)
    assert(e.forall(v => v.embedding.length == 64 && math.abs(math.sqrt(v.embedding.map(x => x.toDouble * x).sum) - 1) < 1e-5))
    assert(e.map(_.label).toSet == (0 until 10).toSet)
  }

  test("store rounds cycle through every write kind, then a vacuum") {
    val writes = StoreRw.opSequence(3, 400).grouped(StoreRw.RoundOps).map(_.head.kind).toSeq
    writes.grouped(StoreRw.CycleRounds).foreach(c =>
      assert(c.take(4).sorted == Seq("delete", "insert", "update", "upsert") && c(4) == "vacuum"))
    assert(StoreRw.opSequence(3, 20).groupBy(_.kind).map { case (k, ops) => k -> ops.size } == StoreRw.PerCycle)
  }

  test("an op that throws or returns a wrong output is counted as failed") {
    val raw = Runner.loop(0.05, _ => "op", _ => false) { i =>
      Thread.sleep(1)
      if (i == 1) throw new IllegalStateException("boom")
    }
    assert(raw.size >= 4)
    assert(!raw(1).ok && raw(1).error.exists(_.contains("boom")))
    assert(raw.count(!_.ok) == 1, "the loop goes on after a thrown op")
    val checked = Runner.verify(raw, i => if (i == 3) throw new RuntimeException("check") else i != 2)
    assert(checked.filterNot(_.ok).map(_.index) == Seq(1, 2, 3))
    assert(checked(2).error.contains("wrong output"))
  }

  test("lead ops run before the window's clock; the window runs at least minOps ops") {
    assert(Runner.loop(0.0, _ => "op", _ => false, lead = 2, minOps = 5)(_ => ()).size == 5)
    val r = Runner.loop(0.02, _ => "op", _ => false, lead = 1)(i => Thread.sleep(if (i == 0) 50 else 1))
    assert(r.size > 2, "the window starts after the lead op")
  }

  test("traced blocks follow the lead ops as traced, untraced, untraced, traced") {
    val w = new Workload {
      def setup(dir: java.nio.file.Path): Unit = (); def warmup(seconds: Double): Unit = ()
      def kind(i: Int) = "op"; def run(i: Int): Unit = (); def verify(i: Int) = true
      def finalCheck(records: Seq[OpRecord]) = Nil; def primary(r: OpRecord) = true
      def workloadMetrics(records: Seq[OpRecord]) = Nil; def layerMetrics(records: Seq[OpRecord], tr: Tracer) = Nil
      override def leadOps = 1; override def traceBlock = 2
    }
    assert((0 until 11).map(w.traced) == Seq(true, true, true, false, false, false, false, true, true, true, true))
  }

  test("rows compare as multisets with a relative tolerance on numbers") {
    val a = Canon.of(Seq(Seq("F", 3L, 210367159.75), Seq("O", 1L, null)))
    val b = Canon.of(Seq(Seq("O", 1L, null), Seq("F", 3.0, 210367159.74999976)))
    assert(Canon.same(a, b))
    assert(!Canon.same(a, Canon.of(Seq(Seq("F", 3L, 210367160.75), Seq("O", 1L, null)))))
    assert(!Canon.same(a, Canon.of(Seq(Seq("F", 3L, 210367159.75)))))
    assert(Canon.same(Canon.of(Canon.jxRows("""{"header":["s","n"],"data":[["P",2],["F",1]]}""")),
      Canon.of(Seq(Seq("F", 1), Seq("P", 2)))))
    assert(Canon.same(Canon.of(Canon.jxRows(
      """{"edges":[{"name":"s","domain":{"type":"set","partitions":["F","O"]}}],"data":{"n":[4,0],"v":[1.5,null]}}""")),
      Canon.of(Seq(Seq("O", 0L, null), Seq("F", 4L, 1.5)))))
  }

  test("the metrics a run prints are the ones BENCHMARK.json names") {
    import org.json4s._
    val j = org.json4s.jackson.JsonMethods.parse(
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("../BENCHMARK.json")), "UTF-8"))
    def field(m: JValue, k: String) = (m \ k).asInstanceOf[JString].s
    def names(key: String) = (j \ key).asInstanceOf[JArray].arr.map(field(_, "name"))
    assert((j \ "per_layer").asInstanceOf[JArray].arr.map(m => field(m, "name") -> field(m, "unit")) ==
      Main.LayerMetrics)
    assert(names("end_to_end").toSet == Set("setup_s", "p50_s", "accuracy"))
    assert(names("workloads").toSet == Main.Workloads.keySet)
  }

  test("the job action is the call site's leading word") {
    assert(Tracer.action("head at Extract.scala:140") == "head")
    assert(Tracer.action(null) == "other")
  }
}
