package graft.tools
import graft.kg._
object MicroBench {
  /** Parsed mentions of conversations [convLo, convHi): the prompt
    * guard and scorer of the batch path, one matcher per thread. */
  def work(convLo: Long, convHi: Long, cfg: TranscriptGen.Config): Long = {
    val turns = (convLo until convHi).iterator.flatMap { c =>
      Iterator.range(0, TranscriptGen.turnsFor(c, cfg)).map(TranscriptGen.genTurn(c, _, cfg).turn)
    }
    Extraction.scoreTurns(turns, cfg).map { case (_, s) => Extraction.parsedOf(s).length.toLong }.sum
  }
  def main(args: Array[String]): Unit = {
    val threads = args(0).toInt
    val nConvs = args(1).toLong
    val cfg = TranscriptGen.Config(nConvs = nConvs)
    work(0, 2000, cfg) // warmup
    val t0 = System.nanoTime()
    // balanced ranges covering ALL of nConvs (a floor-division chunk
    // dropped nConvs % threads convs while still dividing by nConvs,
    // overstating convs/sec whenever nConvs wasn't a thread multiple)
    val ts = (0 until threads).map { i =>
      val from = i * nConvs / threads
      val until = (i + 1) * nConvs / threads
      val th = new Thread(() => { work(from, until, cfg): Unit })
      th.start(); th
    }
    ts.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    println(f"threads=$threads convs=$nConvs wall=$wall%.2f s convs/sec=${nConvs / wall}%.0f")
  }
}
