package perfbench

import java.io.File
import java.nio.file.Files
import java.security.MessageDigest

/** Shows the generators are seeded: the same seed writes byte-identical
  * inputs and another seed writes different ones, for every workload.
  */
object SelfTest {

  private def digest(dir: File): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).foreach(walk)
      else { md.update(f.getName.getBytes("UTF-8")); md.update(Files.readAllBytes(f.toPath)) }
    walk(dir)
    md.digest().map("%02x".format(_)).mkString
  }

  private def generate(dir: String, seed: Long): Unit = {
    Gen.findings(dir, seed, 0.05)
    Gen.dedupCorpus(dir, seed, 500)
    Gen.embeddings(dir, seed, 500, 64)
  }

  /** Returns the exit code: 0 when both properties hold. */
  def run(work: String): Int = {
    val root = new File(work, "selftest")
    Gen.deleteTree(root)
    val runs = Seq("a" -> 1L, "b" -> 1L, "c" -> 2L).map { case (name, seed) =>
      val d = new File(root, name)
      generate(d.getPath, seed)
      // compare per workload; cache dir names carry the seed, so strip them
      name -> d.listFiles().toSeq.map(f => f.getName.replaceAll("-s\\d+", "") -> digest(f)).toMap
    }.toMap
    val same = runs("a") == runs("b")
    val differ = runs("a").forall { case (k, v) => runs("c").get(k).exists(_ != v) }
    runs("a").keys.toSeq.sorted.foreach { k =>
      println(s"$k: seed 1 ${runs("a")(k).take(12)} / ${runs("b")(k).take(12)}, seed 2 ${runs("c")(k).take(12)}")
    }
    println(s"""{"same_seed_identical": $same, "other_seed_differs": $differ}""")
    Gen.deleteTree(root)
    if (same && differ) 0 else 1
  }
}
