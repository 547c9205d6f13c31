package graft.tools
import graft.sources.HtmlParser

/** Dev probe: sampling profiler for the parse path — one worker thread
  * parses in a loop, a sampler grabs its stack every ~1 ms and aggregates
  * frame counts (graft frames only). */
object SampleProf {
  def main(args: Array[String]): Unit = {
    val rows = (0 until 25).map { i =>
      s"""<tr class="athing" id="$i"><td class="title"><a href="item?id=$i" id="link-$i" class="storylink">Order $i [P]</a><span class="sitebit"><a href="https://c-$i.example/">c-$i.example</a></span></td></tr><tr><td class="subtext"><span class="score">${i * 7} points</span></td></tr>"""
    }.mkString
    val html = s"""<html><head><title>News</title><base href="https://news.example/"></head><body><table class="itemlist">$rows</table></body></html>"""
    val mode = if (args.nonEmpty) args(0) else "parse"
    @volatile var stop = false
    val worker = new Thread(() => {
      var acc = 0
      while (!stop) {
        mode match {
          case "parse" => acc += HtmlParser.parseDocument(html).size
          case "full" =>
            val a = HtmlParser.parse(html, fragment = false)
            acc += graft.spark.NodeSchema.arenaToArrayData(a).numElements()
        }
      }
      if (acc == -1) print("")
    })
    worker.setDaemon(true)
    (0 until 2000).foreach(_ => HtmlParser.parseDocument(html)) // JIT warm
    worker.start()
    val counts = new java.util.HashMap[String, Integer]()
    val self = new java.util.HashMap[String, Integer]()
    val t0 = System.nanoTime()
    var samples = 0
    while (System.nanoTime() - t0 < 6e9) {
      val st = worker.getStackTrace
      if (st.nonEmpty) {
        samples += 1
        val seen = new java.util.HashSet[String]()
        var topped = false
        st.foreach { f =>
          val key = f.getClassName + "." + f.getMethodName
          if (key.startsWith("graft.") && seen.add(key)) {
            counts.merge(key, 1, (a, b) => a + b)
            if (!topped) { self.merge(key, 1, (a, b) => a + b); topped = true }
          }
        }
      }
      Thread.sleep(0, 500000)
    }
    stop = true
    println(s"samples=$samples  (on-stack%, leaf%)")
    import scala.jdk.CollectionConverters._
    counts.asScala.toSeq.sortBy(-_._2).take(25).foreach { case (k, v) =>
      val s = Option(self.get(k)).map(_.toInt).getOrElse(0)
      println(f"${v * 100.0 / samples}%5.1f ${s * 100.0 / samples}%5.1f  $k")
    }
  }
}
