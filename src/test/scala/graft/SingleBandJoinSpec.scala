package graft

import scala.jdk.CollectionConverters._

/** The LSH band-key join has one implementation, `queries.Sketch`
  * (`candidates`): no other source in src/main joins on `band_id`.
  */
class SingleBandJoinSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("no code outside queries/Sketch.scala joins on band_id") {
    val root = new java.io.File(sys.props("user.dir"), "src/main/scala")
    assert(root.isDirectory, s"source tree not found at $root")
    val bandJoin = """Seq\(\s*"band_id"|join\([^)]*"band_id"|"band_id"\)\s*===""".r
    val offenders = java.nio.file.Files.walk(root.toPath).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.toPath.relativize(p).toString.replace('\\', '/') -> p)
      .filterNot { case (rel, _) => rel == "graft/queries/Sketch.scala" }
      .flatMap { case (rel, p) =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if bandJoin.findFirstIn(line).nonEmpty => s"$rel:${i + 1}: ${line.trim}"
        }.toList
      }.toList
    assert(offenders.isEmpty, offenders.mkString("band join outside Sketch:\n", "\n", ""))
  }
}
