package graftbench

import java.nio.file.Path
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import scala.jdk.CollectionConverters._

/** The benchmark's own tests: generators are deterministic in the seed,
  * and the oracle rejects corrupted answers (so a correct verdict is not
  * vacuous). Prints PASS/FAIL per check; returns the process exit code. */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Exception =>
      System.err.println(s"$name: $e"); false }
    println(s"${if (ok) "PASS" else "FAIL"} $name")
    if (!ok) failures += 1
  }

  /** Corruptions of a rendered answer: bump the first number, change the
    * first string value, drop the last data row. */
  def corruptions(answer: JsonNode): Seq[(String, JsonNode)] = {
    def firstLeaf(n: JsonNode, pred: JsonNode => Boolean)
        : Option[(JsonNode, Either[String, Int])] = n match {
      case o: ObjectNode =>
        o.fieldNames.asScala.toSeq.iterator.flatMap { k =>
          val c = o.get(k)
          if (pred(c)) Some(o -> Left(k)) else firstLeaf(c, pred)
        }.nextOption()
      case a: ArrayNode =>
        (0 until a.size).iterator.flatMap { i =>
          val c = a.get(i)
          if (pred(c)) Some(a -> Right(i)) else firstLeaf(c, pred)
        }.nextOption()
      case _ => None
    }
    def edit(pred: JsonNode => Boolean, f: JsonNode => JsonNode)
        : Option[JsonNode] = {
      val copy = answer.deepCopy[JsonNode]()
      firstLeaf(copy.get("data"), pred).map {
        case (o: ObjectNode, Left(k)) => o.set[JsonNode](k, f(o.get(k))); copy
        case (a: ArrayNode, Right(i)) => a.set(i, f(a.get(i))); copy
        case _ => copy
      }
    }
    val nf = com.fasterxml.jackson.databind.node.JsonNodeFactory.instance
    Seq(
      edit(_.isNumber, n => nf.numberNode(n.asDouble + 1.0)).map("number+1" -> _),
      edit(_.isTextual, n => nf.textNode(n.asText + "x")).map("string" -> _),
      Option(answer.get("data")).collect {
        case a: ArrayNode if a.size > 0 =>
          val copy = answer.deepCopy[JsonNode]()
          copy.get("data").asInstanceOf[ArrayNode].remove(a.size - 1)
          "drop-row" -> copy
      }).flatten
  }

  def run(work: Path): Int = {
    val seed = 7L
    // --- determinism -------------------------------------------------
    check("interactive pool and Zipf streams repeat per seed") {
      def draws(s: Long) = {
        val z = new Requests.ZipfStream(s, 0, Requests.interactivePool(s))
        Vector.fill(500)(z.next().text)
      }
      draws(seed) == draws(seed) && draws(seed) != draws(seed + 1)
    }
    check("analytic requests repeat per seed and never repeat a text") {
      val a = (0L until 300L).map(i => Requests.analytic(seed, i).text)
      a == (0L until 300L).map(i => Requests.analytic(seed, i).text) &&
        a.distinct.size == a.size
    }
    check("mozlog batches repeat per seed") {
      MozLogGen.batch(seed, 3) == MozLogGen.batch(seed, 3) &&
        MozLogGen.batch(seed, 3) != MozLogGen.batch(seed + 1, 3) &&
        MozLogGen.batch(seed, 3).malformed > 0
    }
    check("document batches repeat per seed") {
      DocGen.batch(seed, 2) == DocGen.batch(seed, 2) &&
        DocGen.batch(seed, 2) != DocGen.batch(seed + 1, 2)
    }

    val spark = Main.session(work)
    try {
      val ctx = new RunContext(seed, work, traced = false)
      val inter = new JxInteractive(ctx)
      Tpch.write(spark, seed, inter.dir)
      check("written tables repeat per seed") {
        val again = work.resolve("tables-again").toString
        val other = work.resolve("tables-other").toString
        Tpch.write(spark, seed, again)
        Tpch.write(spark, seed + 1, other)
        def same(x: String, y: String, t: String) = {
          val a = spark.read.parquet(s"$x/$t.parquet")
          val b = spark.read.parquet(s"$y/$t.parquet")
          a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
        }
        Seq("orders", "lineitem", "customer").forall(same(inter.dir, again, _)) &&
          !same(inter.dir, other, "lineitem")
      }
      // --- oracle against the engine, then against corrupted answers --
      val data = new TpchData(spark, inter.dir)
      val pool = Requests.interactivePool(seed)
      val reqs = Requests.InteractiveTemplates.map(t => pool.find(_.template == t).get) ++
        (0L until 10L).map(i => Requests.analytic(seed, i))
      val answers = reqs.map(r => Answered(r,
        Right(graft.Service.query(spark, inter.dir, r.text))))
      val wrong = inter.check(data, answers)
      wrong.foreach { case (a, d) => System.err.println(s"${a.req.template}: $d") }
      check(s"oracle accepts the engine's ${answers.size} answers") { wrong.isEmpty }
      val corrupted = answers.flatMap { a =>
        corruptions(Oracle.parse(a.answer.toOption.get)).map { case (kind, c) =>
          (s"${a.req.template}/$kind", Answered(a.req,
            Right(Oracle.mapper.writeValueAsString(c))))
        }
      }
      check(s"oracle rejects all ${corrupted.size} corrupted answers") {
        val caught = inter.check(data, corrupted.map(_._2)).map(_._1).toSet
        corrupted.filterNot(c => caught.contains(c._2))
          .foreach(c => System.err.println(s"not caught: ${c._1}"))
        corrupted.forall(c => caught.contains(c._2))
      }
      check("a wrong answer counts as a failed operation") {
        val mixed = answers ++ corrupted.take(3).map(_._2)
        inter.check(data, mixed).size == 3
      }
      // --- etl and dedup oracles ----------------------------------------
      val etl = new EtlIngest(ctx)
      val b = MozLogGen.batch(seed, 1)
      check("etl read-back oracle rejects a stale or wrong batch") {
        etl.readbackOk(b, s"""{"data":[{"tests":${b.tests},"subtests":${b.subtests}.0,"failed":${b.failed}.0}]}""") &&
          !etl.readbackOk(b, s"""{"data":[{"tests":${b.tests - 1},"subtests":${b.subtests}.0,"failed":${b.failed}.0}]}""") &&
          !etl.readbackOk(b, """{"data":[{"tests":0}]}""")
      }
      val llm = new LlmDedup(ctx)
      val d = DocGen.batch(seed, 1)
      check("dedup oracle rejects kept filler, missed duplicates, foreign ids") {
        val someDups = d.duplicates.take(d.duplicates.size / 10 + 1)
        llm.judge(d, d.survivors) &&
          !llm.judge(d, d.survivors + d.filler.head) &&
          !llm.judge(d, d.survivors ++ someDups) &&
          !llm.judge(d, d.survivors + -1L) &&
          !llm.judge(d, d.survivors -- d.survivors.take(d.survivors.size / 5))
      }
    } finally spark.stop()
    println(if (failures == 0) "selftest: all checks passed"
            else s"selftest: $failures check(s) failed")
    if (failures == 0) 0 else 1
  }
}
