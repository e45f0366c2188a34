package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardOpenOption}

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property harness for the incremental tail: under ANY append pattern —
  * partial lines, multi-line chunks, empty appends, a final unterminated
  * line — every poll must agree with a ground truth computed here from
  * the raw bytes ('\n'-terminated lines), and the cumulative bytes scanned must stay
  * O(file + re-scanned partial tails), never O(polls × file). This is the
  * code where an off-by-one silently drops or duplicates a CDC event, so
  * it gets the generator treatment, not just examples.
  */
class TailPropertySpec extends AnyFunSuite {

  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(7L + i)))

  // A chunk is any mix of line text and newlines, appended atomically.
  private val chunk: Gen[String] = Gen.frequency(
    4 -> Gen.listOf(Gen.frequency(5 -> Gen.alphaNumChar, 1 -> Gen.const('\n')))
      .map(_.mkString),
    1 -> Gen.const("\n"),
    1 -> Gen.const(""))

  private val appendScript: Gen[List[String]] = Gen.listOfN(12, chunk)

  /** Ground truth: TERMINATED lines only — the source's offset contract
    * (a partial trailing line a writer is still appending is invisible
    * until its '\n' lands, so no batch can read a torn record prefix).
    */
  private def truth(path: java.nio.file.Path): Long =
    Files.readAllBytes(path).count(_ == '\n'.toByte).toLong

  test("property: poll() == terminated-line count after every append, O(new bytes) scanning") {
    samples(appendScript, 120).foreach { script =>
      val log = Files.createTempFile("tail_prop", ".log")
      try {
        val tail = new Tail(Framing.Lines, log.toString)
        script.foreach { c =>
          Files.write(log, c.getBytes(StandardCharsets.UTF_8), StandardOpenOption.APPEND)
          val (pos, bytePos) = tail.poll()
          assert(pos == truth(log), s"script=${script.map(_.replace("\n", "\\n"))}")
          // bytePos is always a clean line boundary: just past the last '\n'
          assert(bytePos == lastByteAfterNl(log))
          // polling again without appends reads nothing beyond the partial tail
          val size = Files.size(log)
          val before = tail.bytesScanned
          tail.poll(); tail.poll()
          val rescan = tail.bytesScanned - before
          val partial = size - lastByteAfterNl(log)
          assert(rescan == 2 * partial,
            s"idle polls rescanned $rescan bytes (partial tail = $partial)")
        }
      } finally Files.deleteIfExists(log)
    }
  }

  private def lastByteAfterNl(p: java.nio.file.Path): Long = {
    val bytes = Files.readAllBytes(p)
    val i = bytes.lastIndexOf('\n'.toByte)
    (i + 1).toLong
  }

  test("property: seek reader returns exactly the skip reader's lines at any boundary") {
    val lines = Gen.listOfN(40, Gen.alphaNumStr.map(_.take(12)))
    samples(lines, 40).foreach { ls =>
      val log = Files.createTempFile("tail_seek", ".log")
      try {
        Files.write(log, (ls.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
        // byte offset of each line start, as a Tail would have published it
        var offsets = Vector(0L)
        var acc = 0L
        ls.foreach { l =>
          acc += l.getBytes(StandardCharsets.UTF_8).length + 1
          offsets :+= acc
        }
        // ground truth: the raw bytes split on '\n' (the final '\n' ends the
        // last line, it does not start an empty one)
        val truth = new String(Files.readAllBytes(log), StandardCharsets.UTF_8)
          .split("\n", -1).toVector.dropRight(1)
        val name = log.getFileName.toString
        val until = LogOffset(name, ls.length.toLong, offsets(ls.length))
        (0 to ls.length).foreach { from =>
          val viaSeek = ReadRange.lines(
            LogRange(log.toString, LogOffset(name, from.toLong, offsets(from)), until))
          val expected = truth.zipWithIndex.drop(from).map { case (l, i) => (l, i.toLong) }
          assert(viaSeek == expected, s"from=$from")
        }
      } finally Files.deleteIfExists(log)
    }
  }
}
