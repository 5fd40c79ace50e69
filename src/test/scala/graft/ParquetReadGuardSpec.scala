package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Every engine Parquet read goes through `sources.ParquetInputs`, so
  * no builder pays a schema-inference job per read. Fails, listing the
  * offending lines, when a direct `read.parquet(` appears anywhere else
  * under `src/main/scala`. */
class ParquetReadGuardSpec extends AnyFunSuite {

  test("no direct read.parquet( outside sources.ParquetInputs") {
    val main = Paths.get("src/main/scala")
    assert(Files.isDirectory(main),
      s"run from the repository root: ${main.toAbsolutePath} is missing")
    val reader = main.resolve("graft/sources/ParquetInputs.scala")
    assert(Files.isRegularFile(reader), s"$reader is missing")
    val stream = Files.walk(main)
    val offenders = try {
      import scala.jdk.CollectionConverters._
      stream.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && p != reader)
        .flatMap { (p: Path) =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if line.contains("read.parquet(") =>
              s"$p:${i + 1}: ${line.trim}"
          }
        }.toList
    } finally stream.close()
    assert(offenders.isEmpty,
      "direct Parquet reads bypass sources.ParquetInputs (use " +
        "ParquetInputs.read / readAs):\n" + offenders.mkString("\n"))
  }
}
