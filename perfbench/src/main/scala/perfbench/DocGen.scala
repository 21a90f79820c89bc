package perfbench

/**
 * Seeded JSON-document generator for the `json_docs` workload.
 *
 * Document `i` of seed `s` is a pure function of `(s, i)` (SplitMix64 over a
 * mixed key), so any partitioning of the index range regenerates the same
 * bytes, and the planted verdict of every document is known without running
 * the validator. About one document in five carries a planted violation; the
 * violation kinds cover type, enum, pattern, format, numeric bounds, required,
 * additionalProperties, items, a `$ref`'d definition, if/then, anyOf and oneOf.
 */
object DocGen {
  /** Bumped whenever generated bytes change, so cached inputs are rebuilt. */
  val Version = "docgen-v2"

  /** Number of planted violation kinds; kind 0 means "valid". */
  val Kinds = 12

  val Schema: String =
    """{"$defs":{
      |  "tag":{"type":"string","pattern":"^[a-z][a-z0-9_]{1,15}$"},
      |  "point":{"type":"object","required":["x","y"],
      |    "properties":{"x":{"type":"number","minimum":-1000,"maximum":1000},
      |                  "y":{"type":"number","minimum":-1000,"maximum":1000}},
      |    "additionalProperties":false},
      |  "meta":{"type":"object","required":["created","source"],
      |    "properties":{"created":{"type":"string","format":"date-time"},
      |                  "source":{"enum":["web","books","code","wiki"]},
      |                  "host":{"type":"string","format":"hostname"},
      |                  "score":{"type":"number","exclusiveMinimum":0,"maximum":1},
      |                  "nested":{"$ref":"#/$defs/meta"}}}},
      | "type":"object",
      | "required":["id","name","email","kind","tags","meta"],
      | "properties":{
      |  "id":{"type":"integer","minimum":1},
      |  "name":{"type":"string","minLength":3,"maxLength":64},
      |  "email":{"type":"string","format":"email"},
      |  "kind":{"enum":["user","admin","service"]},
      |  "level":{"type":"integer","minimum":1,"maximum":10},
      |  "tags":{"type":"array","maxItems":32,"uniqueItems":true,"items":{"$ref":"#/$defs/tag"}},
      |  "points":{"type":"array","items":{"$ref":"#/$defs/point"}},
      |  "meta":{"$ref":"#/$defs/meta"},
      |  "ip":{"anyOf":[{"type":"string","format":"ipv4"},{"type":"string","format":"ipv6"}]},
      |  "version":{"oneOf":[{"type":"integer","minimum":0},{"type":"string","pattern":"^v[0-9]+$"}]},
      |  "uuid":{"allOf":[{"type":"string"},{"format":"uuid"}]},
      |  "bio":{"type":"string","maxLength":4000}},
      | "additionalProperties":false,
      | "if":{"properties":{"kind":{"const":"admin"}}},
      | "then":{"required":["level"]}}""".stripMargin.replaceAll("\n\\s*", "")

  /** SplitMix64: a tiny deterministic stream, fixed by its published constants. */
  final class Rng(seed: Long) {
    private var state = seed
    def next(): Long = {
      state += 0x9E3779B97F4A7C15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    /** Uniform in [0, n). */
    def below(n: Int): Int = java.lang.Math.floorMod(next(), n.toLong).toInt
  }

  private def rngFor(seed: Long, i: Long): Rng = {
    val r = new Rng(seed * 0x632BE59BD9B4E019L ^ (i + 1) * 0x9E3779B97F4A7C15L)
    r.next(); r
  }

  /** Planted violation kind of document `i`: 0 = valid, 1..Kinds = one planted kind. */
  def plant(seed: Long, i: Long): Int = {
    val r = rngFor(seed, i)
    if (r.below(5) != 0) 0 else 1 + r.below(Kinds)
  }

  /** Documents in [0, n) planted as valid. */
  def expectedValid(seed: Long, n: Long): Long = {
    var c = 0L; var i = 0L
    while (i < n) { if (plant(seed, i) == 0) c += 1; i += 1 }
    c
  }

  private val Words = Array("alpha", "delta", "gamma", "kappa", "sigma", "omega",
    "lorem", "ipsum", "dolor", "amet", "tensor", "corpus", "token", "shard")
  private val Sources = Array("web", "books", "code", "wiki")

  /** `v` zero-padded to `width` digits in `radix` (java.util.Formatter is slow). */
  private def pad(sb: java.lang.StringBuilder, v: Long, width: Int, radix: Int = 10): java.lang.StringBuilder = {
    val s = java.lang.Long.toString(v, radix)
    var i = s.length
    while (i < width) { sb.append('0'); i += 1 }
    sb.append(s)
  }

  /** Fixed-point decimal with two fraction digits, rendered without floating point. */
  private def fixed2(sb: java.lang.StringBuilder, cents: Long): java.lang.StringBuilder = {
    if (cents < 0) sb.append('-')
    val a = math.abs(cents)
    pad(sb.append(a / 100).append('.'), a % 100, 2)
  }

  private def meta(r: Rng, sb: java.lang.StringBuilder, depth: Int, badSource: Boolean): Unit = {
    sb.append("{\"created\":\"20")
    pad(sb, 10 + r.below(15), 2).append('-')
    pad(sb, 1 + r.below(12), 2).append('-')
    pad(sb, 1 + r.below(28), 2).append('T')
    pad(sb, r.below(24), 2).append(':')
    pad(sb, r.below(60), 2).append(':')
    pad(sb, r.below(60), 2).append("Z\",\"source\":\"")
      .append(if (badSource) "radio" else Sources(r.below(Sources.length)))
      .append("\",\"host\":\"h").append(r.below(1000)).append(".example.org\"")
    pad(sb.append(",\"score\":0."), 1 + r.below(999), 3)
    if (depth < 2 && r.below(2) == 0) {
      sb.append(",\"nested\":")
      meta(r, sb, depth + 1, badSource = false)
    }
    sb.append('}')
  }

  /** Document `i` of seed `seed`, as compact JSON text. */
  def doc(seed: Long, i: Long): String = {
    val kind = plant(seed, i)
    val r = rngFor(seed, i)
    r.next(); r.next() // the two draws plant() made
    val sb = new java.lang.StringBuilder(256)

    sb.append("{\"id\":")
    if (kind == 1) sb.append("\"x").append(i).append('"') else sb.append(i + 1)
    sb.append(",\"name\":\"user_").append(java.lang.Long.toString(i, 36)).append('"')
    sb.append(",\"email\":\"")
    if (kind == 4) sb.append("user").append(i).append("-at-example.com")
    else sb.append('u').append(i).append("@example.com")
    sb.append('"')

    val admin = kind == 10 || r.below(8) == 0
    val role = if (kind == 2) "guest" else if (admin) "admin" else if (r.below(3) == 0) "service" else "user"
    sb.append(",\"kind\":\"").append(role).append('"')
    if (admin && kind != 10 && kind != 2) sb.append(",\"level\":").append(1 + r.below(10))

    val nTags = r.below(25)
    sb.append(",\"tags\":[")
    var t = 0
    while (t < nTags) {
      if (t > 0) sb.append(',')
      sb.append("\"t").append(t).append('_').append(Words(r.below(Words.length))).append('"')
      t += 1
    }
    if (kind == 3) { if (nTags > 0) sb.append(','); sb.append("\"Bad Tag\"") }
    if (kind == 8) { if (nTags > 0) sb.append(','); sb.append(7) }
    sb.append(']')

    val nPoints = r.below(31)
    if (nPoints > 0 || kind == 5) {
      sb.append(",\"points\":[")
      var p = 0
      while (p < nPoints) {
        if (p > 0) sb.append(',')
        fixed2(sb.append("{\"x\":"), r.below(200001) - 100000L)
        fixed2(sb.append(",\"y\":"), r.below(200001) - 100000L).append('}')
        p += 1
      }
      if (kind == 5) { if (nPoints > 0) sb.append(','); sb.append("{\"x\":5000,\"y\":0}") }
      sb.append(']')
    }

    if (kind != 6) {
      sb.append(",\"meta\":")
      meta(r, sb, 0, badSource = kind == 9)
    }

    sb.append(",\"ip\":\"")
    if (kind == 12) sb.append("999.").append(r.below(256)).append(".0.1")
    else if (r.below(4) == 0) {
      sb.append("fe80:0:0:0")
      (0 until 4).foreach(_ => sb.append(':').append(Integer.toHexString(r.below(65536))))
    }
    else sb.append("10.").append(r.below(256)).append('.').append(r.below(256)).append('.').append(r.below(256))
    sb.append('"')

    sb.append(",\"version\":")
    if (kind == 11) sb.append(-1 - r.below(9))
    else if (r.below(2) == 0) sb.append(r.below(100))
    else sb.append("\"v").append(r.below(100)).append('"')

    pad(sb.append(",\"uuid\":\""), r.next() & 0xFFFFFFFFL, 8, 16).append('-')
    pad(sb, r.below(65536), 4, 16).append('-')
    pad(sb, r.below(65536), 4, 16).append('-')
    pad(sb, r.below(65536), 4, 16).append('-')
    pad(sb, r.next() & 0xFFFFFFFFFFFFL, 12, 16).append('"')

    val bioWords = if (r.below(4) == 0) r.below(300) else r.below(12)
    if (bioWords > 0) {
      sb.append(",\"bio\":\"")
      var w = 0
      while (w < bioWords) {
        if (w > 0) sb.append(' ')
        sb.append(Words(r.below(Words.length)))
        w += 1
      }
      sb.append('"')
    }

    if (kind == 7) sb.append(",\"extra\":true")
    sb.append('}')
    sb.toString
  }
}
