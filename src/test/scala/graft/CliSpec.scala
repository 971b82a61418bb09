package graft

import java.nio.file.{Files, Path, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The batch CLI over a reference-style data dir: one stocks and one crypto
  * export in, one Ghostfolio CSV per input out, equal to the goldens that
  * `RevolutParitySpec` pins for the same fixtures. Like every parity spec it
  * compares with CRLF read as LF: the goldens come from Python's csv module,
  * which ends lines with CRLF. */
class CliSpec extends AnyFunSuite {
  private val res = Paths.get("src/test/resources")

  private def text(p: Path): String =
    Files.readString(p).replace("\r\n", "\n")

  test("cli run converts each account dir to the golden Ghostfolio CSVs") {
    val dir = Files.createTempDirectory("cli")
    val cases = Seq("stocks" -> "stocks_hardcoded", "crypto" -> "crypto_hardcoded")
    cases.foreach { case (account, stem) =>
      val in = Files.createDirectories(dir.resolve(s"in/revolut_$account"))
      Files.copy(res.resolve(s"fixtures/$stem.csv"), in.resolve(s"$stem.csv"))
    }

    val total = cli.Main.run(TestSpark.spark, dir.toString, None)

    val loaded = cases.map { case (_, stem) =>
      val out = dir.resolve(s"out/ghostfolio/${stem}_ghostfolio.csv")
      assert(text(out) == text(res.resolve(s"golden/$stem.out.csv")), s"$stem output CSV")
      new ObjectMapper().readTree(res.resolve(s"golden/$stem.result.json").toFile)
        .get("loaded_count").asLong
    }
    assert(total == loaded.sum)
  }
}
