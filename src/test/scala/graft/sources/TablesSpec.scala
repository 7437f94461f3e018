package graft.sources

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class TablesSpec extends AnyFunSuite {

  test("loan input resolves to an existing reference file, else to fixtures/loan_default.csv") {
    val reference = Files.createTempFile("Loan_Default", ".csv")
    try assert(Tables.resolveLoanCsv(reference.toString) === reference.toString)
    finally Files.delete(reference)

    val fallback = new java.io.File(Tables.resolveLoanCsv(reference.toString))
    assert(fallback.isFile)
    assert(fallback.getParentFile.getName === "fixtures")
    assert(fallback.getName === "loan_default.csv")
  }
}
