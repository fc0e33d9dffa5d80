package graft

import graft.spec._

/** Dev probe: poor-man's sampling profiler for the single-document JSON
  * lanes — runs the loop in a worker thread and samples its stack, printing
  * single-core docs/s and the hottest (class, method) frames. Needs no JFR
  * or profiling agent.
  *
  * Run: sbt "Test/runMain graft.StreamProfileProbe <lane> <doc>"
  *  - lane: `stream` (fused parse+validate), `parse` (value tree only) or
  *    `pv` (parse, then validate the tree); default `stream`
  *  - doc: `recursive` or `citm` (the reference's benchmark documents under
  *    `/bench`); default `recursive` */
object StreamProfileProbe {
  def main(args: Array[String]): Unit = {
    val lane = args.lift(0).getOrElse("stream")
    val doc = args.lift(1).getOrElse("recursive")
    val (instanceRes, schemaRes) = doc match {
      case "recursive" => ("recursive_instance.json", "recursive_schema.json")
      case "citm"      => ("citm_catalog.json", "citm_catalog_schema.json")
      case other => throw new IllegalArgumentException(s"unknown doc: $other (recursive|citm)")
    }
    def resource(name: String) =
      new String(getClass.getResourceAsStream(s"/bench/$name").readAllBytes(), "UTF-8")
    val instance = resource(instanceRes)
    val prepared = Interp.prepare(Spec.parseJson(resource(schemaRes)))
    require(prepared.isValidText(instance))
    val run: () => Any = lane match {
      case "stream" => () => prepared.isValidText(instance)
      case "parse"  => () => JsonValue.parse(instance)
      case "pv"     => () => prepared.isValid(JsonValue.parse(instance))
      case other => throw new IllegalArgumentException(s"unknown lane: $other (stream|parse|pv)")
    }
    @volatile var stop = false
    @volatile var iters = 0L
    val worker = new Thread(() => {
      while (!stop) { run(); iters += 1 }
    }, "probe-worker")
    worker.setDaemon(true)
    worker.start()
    Thread.sleep(3000) // JIT warmup
    val counts = scala.collection.mutable.HashMap[String, Int]()
    val leaf = scala.collection.mutable.HashMap[String, Int]()
    val stacks = scala.collection.mutable.HashMap[Vector[String], Int]()
    val it0 = iters
    val t0 = System.nanoTime()
    var samples = 0
    while (System.nanoTime() - t0 < 10e9.toLong) {
      val st = worker.getStackTrace
      if (st.nonEmpty) {
        samples += 1
        val top = st.head
        val topKey = s"${top.getClassName}.${top.getMethodName}:${top.getLineNumber}"
        leaf(topKey) = leaf.getOrElse(topKey, 0) + 1
        st.take(12).map(f => s"${f.getClassName}.${f.getMethodName}").distinct.foreach { fr =>
          counts(fr) = counts.getOrElse(fr, 0) + 1
        }
        if (st.exists(_.getClassName.contains("Compiled"))) {
          val key = st.take(14).toVector.map(f => s"${f.getClassName}.${f.getMethodName}:${f.getLineNumber}")
          stacks(key) = stacks.getOrElse(key, 0) + 1
        }
      }
      Thread.sleep(2)
    }
    val dps = (iters - it0) * 1e9 / (System.nanoTime() - t0)
    stop = true
    println(f"== $lane $doc: $dps%.1f docs/s single-core, $samples samples ==")
    // most frequent full stacks through Compiled twins
    println("== stacks through Compiled (top 3) ==")
    stacks.toSeq.sortBy(-_._2).take(3).foreach { case (st, c) =>
      println(f"  -- ${100.0 * c / samples}%4.1f%%"); st.foreach(f => println(s"     $f"))
    }
    println("== LEAF frames ==")
    leaf.toSeq.sortBy(-_._2).take(18).foreach { case (f, c) =>
      println(f"  ${100.0 * c / samples}%5.1f%% $f")
    }
    println("== frames anywhere in top-12 ==")
    counts.toSeq.sortBy(-_._2).take(18).foreach { case (f, c) =>
      println(f"  ${100.0 * c / samples}%5.1f%% $f")
    }
  }
}
