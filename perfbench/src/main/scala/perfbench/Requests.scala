package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.QueryLayer

/** One API request. `id` is its position in the seeded stream. */
final case class Request(id: Int, shape: String, account: String,
    accounts: Seq[String], window: Option[(Long, Long)], limit: Int,
    codeHash: Option[String]) {
  override def toString: String =
    s"#$id $shape($account${window.fold("")(w => s", now in $w")}, " +
      s"limit $limit${if (accounts.nonEmpty) s", $accounts" else ""}" +
      s"${codeHash.fold("")(c => s", code $c")})"
}

/** The api_reads request stream: its draw, its execution through
  * QueryLayer, the per-response checks and the plain-SQL restatement. */
object Requests {
  /** Endpoint mix per block of 20 requests: a guess, since no production
    * traffic is recorded. Every block holds exactly this mix in a seeded
    * order, so the latency median does not move with the seed's luck in
    * drawing slow or fast shapes. */
  val mix: Seq[(String, Int)] = Seq("transactions" -> 6, "messages" -> 4,
    "actions" -> 3, "traces" -> 3, "hydrate" -> 2, "account_states" -> 2)
  val limits = Seq(10, 20, 100)
  val segments = Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
    "FURNITURE")
  /** Zipf exponent of account popularity: a few hot accounts take most
    * requests, as LAYOUT.md's hot-key section describes. */
  val zipfS = 1.1

  def draw(seed: Long, accounts: IndexedSeq[String],
      customers: IndexedSeq[String], maxNow: Long, n: Int): IndexedSeq[Request] = {
    val rng = new scala.util.Random(seed * 1000003L + 17L)
    val ranked = rng.shuffle(accounts)
    val w = ranked.indices.map(k => 1.0 / math.pow(k + 1, zipfS))
    val cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    def hot(): String = {
      val u = rng.nextDouble()
      val k = cdf.search(u) match {
        case scala.collection.Searching.Found(i) => i
        case scala.collection.Searching.InsertionPoint(i) => i
      }
      ranked(math.min(k, ranked.size - 1))
    }
    val block = mix.flatMap { case (shape, k) => Seq.fill(k)(shape) }
    val shapes = Iterator.continually(rng.shuffle(block)).flatten.take(n).toIndexedSeq
    (0 until n).map { id =>
      val shape = shapes(id)
      val limit = limits(rng.nextInt(limits.size))
      shape match {
        case "account_states" =>
          val k = 1 + rng.nextInt(5)
          Request(id, shape, "", Seq.fill(k)(
              customers(rng.nextInt(customers.size))).distinct.sorted,
            None, QueryLayer.MaxLimit,
            if (rng.nextDouble() < 0.3) Some(segments(rng.nextInt(5))) else None)
        case "transactions" =>
          val window = if (rng.nextBoolean()) {
            val lo = (rng.nextDouble() * maxNow).toLong
            Some((lo, lo + maxNow / 4))
          } else None
          Request(id, shape, hot(), Nil, window, limit, None)
        case _ => Request(id, shape, hot(), Nil, None, limit, None)
      }
    }
  }

  def execute(r: Request, txs: DataFrame, txw: DataFrame, msgs: DataFrame,
      traces: DataFrame, actions: DataFrame, bridge: DataFrame,
      states: DataFrame): DataFrame = r.shape match {
    case "transactions" =>
      QueryLayer.transactions(txs, QueryLayer.TxRequest(
          account = Some(r.account), utimeMin = r.window.map(_._1),
          utimeMax = r.window.map(_._2), limit = r.limit))
        .select("hash", "account", "lt", "now")
    case "hydrate" =>
      QueryLayer.hydrate(txs.filter(col("account") === r.account), msgs)
        .orderBy(col("lt").desc, col("hash").desc).limit(r.limit)
        .select(col("hash"), col("in_msg.msg_hash").as("in_msg_hash"),
          col("account"), col("lt"), col("in_msg.destination").as("in_dest"))
    case "actions" =>
      QueryLayer.actionsByRequest(actions, bridge, QueryLayer.ActionsRequest(
          account = Some(r.account), limit = r.limit))
        .select("trace_id", "action_id", "s_trace_end_lt", "s_end_lt",
          "source", "destination", "accounts")
    case "traces" =>
      QueryLayer.tracesByRequest(traces, txw, msgs, QueryLayer.TraceRequest(
          account = Some(r.account), limit = r.limit))
        .select("trace_id", "end_lt")
    case "messages" =>
      QueryLayer.messages(msgs, QueryLayer.MessageRequest(
          destination = Some(r.account), limit = r.limit))
        .select("msg_hash", "created_lt", "destination")
    case "account_states" =>
      QueryLayer.accountStates(states, r.accounts, r.codeHash.toSeq)
        .select("account", "code_hash")
  }

  /** Null sorts above every value: the order of a DESC NULLS FIRST list. */
  private def cmp(x: Any, y: Any): Int = (x, y) match {
    case (null, null) => 0
    case (null, _) => 1
    case (_, null) => -1
    case (p: Number, q: Number) => java.lang.Long.compare(p.longValue, q.longValue)
    case (p: String, q: String) => p.compareTo(q)
    case (p, q) => p.toString.compareTo(q.toString)
  }
  private def cmpKeys(x: Seq[Any], y: Seq[Any]): Int =
    x.zip(y).map { case (p, q) => cmp(p, q) }.find(_ != 0).getOrElse(0)

  /** Rows sorted by the given columns, all descending (or all ascending). */
  private def sorted(rows: Seq[Row], cols: Seq[String], desc: Boolean): Boolean =
    rows.map(r => cols.map(c => r.getAs[Any](c))).sliding(2).forall {
      case Seq(x, y) => if (desc) cmpKeys(x, y) >= 0 else cmpKeys(x, y) <= 0
      case _ => true
    }

  /** The response's own invariants: filter, sort keys and limit clamp. */
  def validate(r: Request, rows: Seq[Row]): Option[String] = {
    def all(c: String, p: Any => Boolean) = rows.forall(x => p(x.getAs[Any](c)))
    val checks: Seq[(String, Boolean)] = Seq(
      "limit" -> (rows.size <= QueryLayer.clampLimit(r.limit))) ++ (r.shape match {
      case "transactions" => Seq(
        "account" -> all("account", _ == r.account),
        "window" -> r.window.forall { case (lo, hi) =>
          all("now", v => v.asInstanceOf[Int] >= lo && v.asInstanceOf[Int] <= hi) },
        "order" -> sorted(rows,
          if (r.window.isDefined) Seq("now", "lt", "hash") else Seq("lt", "hash"),
          desc = true))
      case "hydrate" => Seq(
        "account" -> all("account", _ == r.account),
        "in_msg" -> all("in_dest", _ == r.account),
        "order" -> sorted(rows, Seq("lt", "hash"), desc = true))
      case "actions" => Seq(
        "account" -> rows.forall(x => (Option(x.getAs[Seq[String]]("accounts"))
          .getOrElse(Nil) ++ Seq(x.getAs[String]("source"),
            x.getAs[String]("destination"))).contains(r.account)),
        "order" -> sorted(rows,
          Seq("s_trace_end_lt", "trace_id", "s_end_lt", "action_id"), desc = true))
      case "traces" => Seq(
        "order" -> sorted(rows, Seq("end_lt", "trace_id"), desc = true))
      case "messages" => Seq(
        "destination" -> all("destination", _ == r.account),
        "order" -> sorted(rows, Seq("created_lt", "msg_hash"), desc = true))
      case "account_states" => Seq(
        "account" -> all("account", r.accounts.contains),
        "code_hash" -> r.codeHash.forall(h => all("code_hash", _ == h)),
        "order" -> sorted(rows, Seq("account"), desc = false))
    })
    checks.collectFirst { case (what, false) => s"$what check failed" }
  }

  /** The columns the SQL restatement returns, in its order. */
  private val restatedCols = Map("transactions" -> 4, "hydrate" -> 2,
    "actions" -> 2, "traces" -> 2, "messages" -> 2, "account_states" -> 2)

  def key(r: Request, row: Row): String =
    Hashes.render(Row.fromSeq(row.toSeq.take(restatedCols(r.shape))))

  /** The same request as plain Spark SQL over the silver views. */
  def restated(spark: SparkSession, r: Request): Seq[Row] = {
    val a = r.account
    val sql = r.shape match {
      case "transactions" =>
        val (where, order) = r.window match {
          case Some((lo, hi)) =>
            (s"AND now BETWEEN $lo AND $hi", "account DESC, now DESC, ")
          case None => ("", "account DESC, ")
        }
        s"""SELECT hash, account, lt, now FROM txs
           |WHERE account = '$a' $where
           |ORDER BY ${order}lt DESC, hash DESC LIMIT ${r.limit}""".stripMargin
      case "hydrate" =>
        s"""SELECT t.hash, m.msg_hash FROM txs t LEFT JOIN
           |  (SELECT tx_hash, min(struct(msg_hash, source, destination, value,
           |     opcode)).msg_hash AS msg_hash
           |   FROM msgs WHERE direction = 'in' GROUP BY tx_hash) m
           |  ON t.hash = m.tx_hash
           |WHERE t.account = '$a'
           |ORDER BY t.lt DESC, t.hash DESC LIMIT ${r.limit}""".stripMargin
      case "actions" =>
        s"""SELECT x.trace_id, x.action_id FROM actions x JOIN
           |  (SELECT DISTINCT trace_id, action_id, trace_end_lt, action_end_lt
           |   FROM bridge WHERE account = '$a') b
           |  ON x.trace_id = b.trace_id AND x.action_id = b.action_id
           |WHERE x.end_lt IS NOT NULL
           |ORDER BY b.trace_end_lt DESC, x.trace_id DESC,
           |  b.action_end_lt DESC, x.action_id DESC LIMIT ${r.limit}""".stripMargin
      case "traces" =>
        s"""SELECT trace_id, end_lt FROM traces
           |WHERE trace_id IN (SELECT trace_id FROM txw WHERE account = '$a')
           |ORDER BY end_lt DESC NULLS FIRST, trace_id DESC
           |LIMIT ${r.limit}""".stripMargin
      case "messages" =>
        s"""SELECT msg_hash, created_lt FROM msgs WHERE destination = '$a'
           |GROUP BY msg_hash, source, destination, value, created_lt, opcode,
           |  bounce, bounced
           |ORDER BY created_lt DESC NULLS FIRST, msg_hash DESC
           |LIMIT ${r.limit}""".stripMargin
      case "account_states" =>
        val in = r.accounts.map(x => s"'$x'").mkString(", ")
        val code = r.codeHash.fold("")(c => s"AND code_hash = '$c'")
        s"""SELECT account, code_hash FROM states
           |WHERE account IN ($in) $code
           |ORDER BY account LIMIT ${QueryLayer.MaxLimit}""".stripMargin
    }
    spark.sql(sql).collect().toSeq
  }
}
