package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source scan: the md5-prefix integer has one owner,
  * [[graft.functions.Md5Prefix]]. Every sketch, sampler, walk step and
  * fingerprint reads it, and their DuckDB oracles mirror it bit for
  * bit, so a hand-written Spark copy (`conv(substring(md5(`) or a
  * second DuckDB mirror (`def hexToLongSql`) anywhere else in
  * `src/main` fails here before it can drift from the owner. */
class Md5PrefixOwnerSpec extends AnyFunSuite {
  private val owner =
    new java.io.File("src/main/scala/graft/functions/Md5Prefix.scala").getCanonicalFile

  private def scalaFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f.getCanonicalFile)
      else Nil
    }

  private def lines(f: java.io.File): Seq[String] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().toList finally src.close()
  }

  private def isCopy(line: String): Boolean =
    line.contains("conv(substring(md5(") || line.contains("def hexToLongSql")

  test("the md5-prefix integer is written only in Md5Prefix") {
    val files = scalaFiles(new java.io.File("src/main"))
    val copies = for {
      f <- files if f != owner
      (l, i) <- lines(f).zipWithIndex if isCopy(l)
    } yield s"${f.getPath}:${i + 1}: ${l.trim}"
    if (copies.nonEmpty)
      fail(s"${copies.size} md5-prefix copies outside Md5Prefix:\n${copies.mkString("\n")}")
    // the scan saw the owner, so an empty result is not a missed tree
    assert(files.contains(owner), s"$owner not found under src/main")
    assert(lines(owner).count(_.contains("def hexToLongSql")) == 1)
  }
}
