package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.atomic.AtomicInteger

/** The per-data-dir fixture memo: one build per key, nested builds
  * safe, failures not cached, `sole` per fixture, scratch dirs under
  * the one exit hook. */
class PerDirSpec extends AnyFunSuite {

  private def dirs(n: Int) = (0 until n).map(i => s"/data/sf0.$i/run-$i")

  test("a build runs once per key") {
    val m = new PerDir[Int]
    val builds = new AtomicInteger
    def get(d: String) = m(d) { builds.incrementAndGet(); d.length }
    assert(get("a") === 1)
    assert(get("a") === 1)
    assert(get("bb") === 2)
    assert(builds.get === 2)
  }

  test("concurrent first calls on one key share one build") {
    val m = new PerDir[Int]
    val builds = new AtomicInteger
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (0 until 16).map(_ => pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = m("d") { Thread.sleep(20); builds.incrementAndGet() }
      }))
      assert(futures.map(_.get).toSet === Set(1))
    } finally pool.shutdown()
    assert(builds.get === 1)
  }

  test("nested builds succeed across two memos and within one") {
    val outer = new PerDir[Int]
    val inner = new PerDir[Int]
    for (d <- dirs(200))
      assert(outer(d)(inner(d)(d.length) + 1) === d.length + 1)
    val one = new PerDir[String]
    for (d <- dirs(200))
      assert(one(d)(one(s"$d/inner")("x") + "y") === "xy")
    assert(outer.sole === None)
  }

  test("a build that throws is retried and invisible to sole") {
    val m = new PerDir[Int]
    intercept[IllegalStateException](m("a")(throw new IllegalStateException("boom")))
    assert(m.sole === None)
    assert(m("b")(7) === 7)
    assert(m.sole === Some(7), "the failed key must not count as a built dir")
    assert(m("a")(3) === 3, "the next call builds again")
    assert(m.sole === None)
  }

  test("sole: None for zero dirs, Some for one, None for two") {
    val m = new PerDir[String]
    assert(m.sole === None)
    m("/one")("v1")
    assert(m.sole === Some("v1"))
    m("/two")("v2")
    assert(m.sole === None)
    val other = new PerDir[String]
    other("/one")("w")
    assert(other.sole === Some("w"), "sole counts this fixture's dirs only")
  }

  test("a scratch dir lives under scratchBase and is registered with the exit hook") {
    import graft.streaming.StreamingRelational
    val dir = PerDir.scratch("perdir-spec")
    try {
      assert(java.nio.file.Files.isDirectory(dir))
      assert(dir.getParent === StreamingRelational.scratchBase)
      assert(dir.getFileName.toString.startsWith("perdir-spec"))
      assert(StreamingRelational.isRegisteredScratch(dir))
    } finally StreamingRelational.deleteRecursively(dir)
  }
}
