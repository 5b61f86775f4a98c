package graft.tools

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import graft.{SparkEntry, SparkSpec}

/** Per-query plan fingerprint: SHA-256 of each registered query's
  * optimized logical plan, one `name digest` line per query in registry
  * order. Two builds whose listings are identical hand Catalyst the
  * same plan for every query, so a refactor of how queries are
  * assembled (loaders, registration) is shown to be plan-neutral
  * without timing anything.
  *
  * The plan text is made JVM-stable first: expression ids are
  * renumbered by first appearance, and closure names
  * (`Foo$$$Lambda$123/0x…@1a2b`) lose their class counter and identity
  * hash. `canonicalized` is not used: it orders commutative operands by
  * hashCode, which for `multicommutativeop` includes a Class's identity
  * hash, so the same build digests differently from one JVM to the next.
  *
  * Usage: sbt "Test/runMain graft.tools.PlanDigest <sfDir> [outFile [planDir]]"
  * (`planDir` receives each normalized plan as `<name>.txt`, for
  * diffing a digest that moved).
  */
object PlanDigest {
  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map("%02x".format(_)).mkString

  def normalize(plan: String): String = {
    val ids = scala.collection.mutable.Map.empty[String, Int]
    val noLambdas = plan.replaceAll("""\$\$Lambda[^@\s,]*@[0-9a-f]+""", "\\$\\$Lambda")
    """#\d+""".r.replaceAllIn(noLambdas, m => "#" + ids.getOrElseUpdate(m.matched, ids.size))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = SparkSpec.session
    val lines = SparkEntry.allQueries.map { q =>
      val plan = normalize(q.fn(spark, sfDir).queryExecution.optimizedPlan.toString)
      args.lift(2).foreach { d =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
        java.nio.file.Files.write(java.nio.file.Paths.get(d, s"${q.name}.txt"), plan.getBytes(UTF_8))
      }
      s"${q.name} ${sha256(plan)}"
    }
    val out = lines.mkString("", "\n", "\n")
    args.lift(1) match {
      case Some(f) => java.nio.file.Files.write(java.nio.file.Paths.get(f), out.getBytes(UTF_8)): Unit
      case None => print(out)
    }
    spark.stop()
  }
}
