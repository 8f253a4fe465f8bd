package graft.tools

import org.scalatest.funsuite.AnyFunSuite

class RuleABSpec extends AnyFunSuite {

  test("parseLeg: key=value pairs, comma-bearing values, '-' for defaults") {
    assert(RuleAB.parseLeg("-") == Map.empty)
    assert(RuleAB.parseLeg("") == Map.empty)
    assert(RuleAB.parseLeg("a.b=1, c.d = x") == Map("a.b" -> "1", "c.d" -> "x"))
    // a comma starts a new pair only when a '=' follows before the next comma
    assert(RuleAB.parseLeg("rules=r.A,r.B,flag=true") ==
      Map("rules" -> "r.A,r.B", "flag" -> "true"))
    assert(RuleAB.parseLeg("k=v=w") == Map("k" -> "v=w"))
    assertThrows[RuntimeException](RuleAB.parseLeg("novalue"))
  }
}
