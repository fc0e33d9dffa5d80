package graftbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame

/** The benchmark's own fixture cache. An entry is keyed by the generator
  * version (a hash of the generating sources, from `run.py`) plus the
  * workload's seed, row and file counts; it is complete only once its
  * `_READY` marker exists, so an interrupted generation is redone. */
object Fixtures {

  def cached(ctx: Ctx, key: String)(generate: Path => Unit): Path = {
    val dir = ctx.opts.cacheDir.resolve(s"$key-g${sys.env.getOrElse("GRAFTBENCH_GEN_VERSION", "dev")}")
    if (!Files.exists(dir.resolve("_READY"))) {
      if (Files.exists(dir)) deleteTree(dir)
      Files.createDirectories(dir)
      generate(dir)
      Files.writeString(dir.resolve("_READY"), "")
    }
    dir
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  def writeLines(p: Path, lines: Seq[String]): Unit =
    Files.write(p, lines.asJava)

  def readLines(p: Path): Seq[String] = Files.readAllLines(p).asScala.toSeq

  /** key=value pairs, one per line. */
  def readProps(p: Path): Map[String, String] =
    readLines(p).filter(_.contains('=')).map { l =>
      val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1)
    }.toMap

  def resource(name: String): String =
    new String(getClass.getResourceAsStream(s"/bench/$name").readAllBytes(), "UTF-8")
}

/** Isolation ladder: each rung runs a growing prefix of the pipeline
  * through an action; a layer's self time is its rung minus the rung
  * below. Rungs run as traced actions, so the listener sees their jobs. */
object Ladder {
  /** Median seconds of `reps` runs after one warm run, plus the spans. */
  def rung(ctx: Ctx, name: String, reps: Int = 5)(body: => Unit): (Double, Seq[Span]) = {
    ctx.action(s"ladder.$name.warm")(body)
    val runs = (1 to reps).map { _ =>
      System.gc() // as before each loop iteration
      ctx.action(s"ladder.$name")(body)
      ctx.tracer.spans.findLast(_.name == s"ladder.$name").get
    }
    (Stats.median(runs.map(_.seconds)), runs)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Expression nodes of class `cls` in the physical plan of `df`. */
  def countNodes(df: DataFrame, cls: Class[_]): Int = {
    var n = 0
    df.queryExecution.sparkPlan.foreach(_.expressions.foreach(_.foreach(e =>
      if (cls.isInstance(e)) n += 1)))
    n
  }
}
