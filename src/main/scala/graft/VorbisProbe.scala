package graft

/** Micro-probe for the Vorbis decoder's per-clip cost (dev tool):
  * times [[graft.expr.VorbisDecode.decode]] over
  * the oracle-fixture shapes (q200 silence, q201 sparse loud/quiet)
  * and over dense full-spectrum long-block streams — the wild-file
  * shape where the IMDCT dominates — plus a direct-vs-FFT IMDCT A/B
  * per block size to place the dispatch crossover
  * ([[graft.expr.VorbisDecode.FastImdctNnzFactor]]).
  */
object VorbisProbe {
  def main(args: Array[String]): Unit = {
    import graft.expr.{VorbisBuild, VorbisDecode}

    def bench(name: String, clip: Array[Byte], n: Int): Unit = {
      var i = 0
      var out: Array[Byte] = null
      while (i < math.max(2, n / 5)) { out = VorbisDecode.decode(clip); i += 1 }
      val t0 = System.nanoTime()
      i = 0
      var bytes = 0L
      while (i < n) {
        bytes += VorbisDecode.decode(clip).length
        i += 1
      }
      val us = (System.nanoTime() - t0) / 1e3 / n
      val audioSec = (out.length - 44) / 2.0 / 8000.0 // mono probe rates
      println(f"[vorbis] $name%-26s ${us}%9.1f us/clip  " +
        f"(${clip.length}%6d B in, ${bytes / n}%7d B out, " +
        f"${audioSec / (us / 1e6)}%8.0fx realtime @8k, $n reps)")
    }

    bench("q200 silence k=7 mixed",
      VorbisBuild.silence(1, 8000, 7, mixedBlocks = true), 4000)
    bench("q201 pattern 129 pkts",
      VorbisBuild.pattern(8000, 64, _ % 4 == 0, seed = 5L), 500)
    bench("dense n=2048, 20 pkts",
      VorbisBuild.dense(8000, 20, 11, seed = 1L), 200)
    bench("dense n=8192, 10 pkts",
      VorbisBuild.dense(8000, 10, 13, seed = 1L), 50)

    // IMDCT A/B: direct (nnz-skipping) vs FFT path on dense spectra
    println()
    val rnd = new java.util.Random(7)
    for (n <- Seq(256, 1024, 2048, 8192)) {
      val spec = Array.fill(n / 2)((rnd.nextFloat() - 0.5f) * 2f)
      val tab = VorbisDecode.cosTable(n)
      val fast = new VorbisDecode.FastImdct(n)
      val out = new Array[Double](n)
      def time(f: () => Unit, reps: Int): Double = {
        var i = 0
        while (i < reps / 5) { f(); i += 1 }
        val t0 = System.nanoTime()
        i = 0
        while (i < reps) { f(); i += 1 }
        (System.nanoTime() - t0) / 1e3 / reps
      }
      val reps = math.max(20, 2000000 / n)
      val d = time(() => VorbisDecode.imdctDirect(spec, n, tab, out), reps)
      val q = time(() => fast.run(spec, out), reps)
      println(f"[imdct] n=$n%5d dense: direct ${d}%9.1f us   " +
        f"fft ${q}%7.1f us   (${d / q}%5.1fx)")
    }
  }
}
