package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Expected query outputs, one tab-separated line per query:
  * `<workload@scale>  <query>  <rows>  <hash>`. */
object Expected {
  final class Table(rows: Map[(String, String), (Long, String)]) {
    def get(key: String, query: String): Option[(Long, String)] = rows.get(key -> query)
  }

  private def lines(path: String): Seq[Array[String]] =
    if (path.isEmpty || !Files.exists(Paths.get(path))) Nil
    else Files.readAllLines(Paths.get(path), UTF_8).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t"))

  def load(path: String): Table =
    new Table(lines(path).map(f => (f(0), f(1)) -> (f(2).toLong, f(3))).toMap)

  /** Replaces every stored line of `key` with `outputs`. */
  def store(path: String, key: String, outputs: Seq[(String, (Long, String))]): Unit = {
    val kept = lines(path).filterNot(_(0) == key).map(_.mkString("\t"))
    val fresh = outputs.sortBy(_._1).map { case (q, (n, h)) => s"$key\t$q\t$n\t$h" }
    val header = "# workload@scale\tquery\trows\thash (see perfbench/README.md, \"Output checks\")"
    Files.write(Paths.get(path), (header +: (kept ++ fresh).sorted).mkString("", "\n", "\n").getBytes(UTF_8))
  }
}
