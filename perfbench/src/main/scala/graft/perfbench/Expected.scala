package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardOpenOption}

/** Expected row count and fingerprint per roster entry, kept in
  * `perfbench/expected/roster.tsv` as `name<TAB>rows<TAB>fingerprint`. */
final class Expected(want: Map[String, (Long, Long)]) {
  /** Some(true) when both match, Some(false) when either differs, None
    * when nothing is kept for `name`. */
  def verdict(name: String, rows: Long, fp: Long): Option[Boolean] =
    want.get(name).map(_ == ((rows, fp)))
}

object Expected {
  def load(path: Option[String]): Expected = new Expected(
    path.filter(p => Files.exists(Paths.get(p))).toSeq.flatMap { p =>
      new String(Files.readAllBytes(Paths.get(p)), UTF_8).linesIterator
        .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
          val Array(n, r, f) = l.split("\\t")
          n -> ((r.toLong, f.toLong))
        }
    }.toMap)

  /** Appends the entries of `ops` to `path`, one line each. */
  def save(path: String, ops: Seq[String], got: Map[String, (Long, Long)]): Unit = {
    val lines = ops.sorted.flatMap(n => got.get(n).map { case (r, f) => s"$n\t$r\t$f\n" })
    Files.write(Paths.get(path), lines.mkString.getBytes(UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }
}
