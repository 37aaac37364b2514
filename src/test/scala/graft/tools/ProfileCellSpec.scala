package graft.tools

import org.scalatest.funsuite.AnyFunSuite

class ProfileCellSpec extends AnyFunSuite {

  test("a trailing flag without its value is a usage error") {
    // the unknown query name would fail only after a session starts, so
    // getting the flag error shows it is raised before that
    for (flag <- Seq("--repeat", "--plans", "--suffix")) {
      val e = intercept[RuntimeException](
        ProfileCell.main(Array("/no/such/sf", "no_such_query", flag)))
      assert(e.getMessage == s"$flag requires a value")
    }
  }
}
