package graft

class SessionMemoSpec extends SparkSpecBase {

  test("the same (session, key) builds once and returns the same instance") {
    val memo = new Session.Memo[String, Object]
    var builds = 0
    def get() = memo(spark, "k") { builds += 1; new Object }
    val first = get()
    assert(get() eq first)
    assert(builds == 1)
  }

  test("a different key builds separately") {
    val memo = new Session.Memo[String, Object]
    val a = memo(spark, "a")(new Object)
    val b = memo(spark, "b")(new Object)
    assert(!(a eq b))
    assert(memo(spark, "a")(new Object) eq a)
  }

  test("a build that reads a second memo returns normally") {
    // the pretrain -> curation shape: the outer build reads another memo
    val inner = new Session.Memo[String, String]
    val outer = new Session.Memo[String, String]
    def curated(d: String) = inner(spark, d)(s"stages@$d")
    def packed(d: String) = outer(spark, d)(curated(d) + "/packed")
    assert(packed("sf") == "stages@sf/packed")
    assert(curated("sf") == "stages@sf")
  }
}
