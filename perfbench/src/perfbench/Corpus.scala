package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** Seeded analysis-JSON corpus: the files a user feeds to
  * `import directory`. Everything derives from `java.util.Random`
  * seeded by (seed, binary tag), so a seed always writes the same
  * bytes; [[Facts]] holds what the benchmark checks answers against.
  *
  * Shape: call fan-out is power-law (most functions call 0-3 others,
  * a few call 20+), names like `main`/`init` repeat in every binary,
  * string words are Zipf-distributed, and library names are written
  * in mixed case (the importer lower-cases them).
  */
object Corpus {

  final case class Fn(name: String, addr: Long)
  final case class Imp(name: String, library: String, addr: Long) {
    def uid: String = s"imp:${library.toLowerCase}:$name"
  }
  final case class Call(from: Long, to: Long, site: Long, kind: String)
  final case class Bin(hash: String, name: String, format: String,
      arch: String, size: Long, fns: Vector[Fn], imports: Vector[Imp],
      exports: Vector[Fn], strings: Vector[(String, Long)], calls: Vector[Call]) {
    def fnUid(addr: Long): String = s"$hash:${hex(addr)}"
    /** uid of whatever sits at `addr`: an import slot or a function. */
    def uidAt(addr: Long): String =
      imports.find(_.addr == addr).map(_.uid).getOrElse(fnUid(addr))
  }

  def hex(a: Long): String = "0x" + java.lang.Long.toHexString(a)

  private val SharedNames: Vector[String] = Vector("main", "init", "start", "cleanup")
  private val Verbs = Vector("parse", "read", "write", "send", "recv", "open",
    "close", "load", "free", "alloc", "hash", "encode", "decode", "check",
    "update", "handle", "build", "scan", "sort", "flush")
  private val Nouns = Vector("header", "buffer", "socket", "file", "config",
    "packet", "string", "table", "node", "key", "token", "frame", "record",
    "entry", "stream", "path", "window", "thread")
  private val Apis = Vector(
    "CreateFileA" -> "KERNEL32.dll", "ReadFile" -> "KERNEL32.dll",
    "WriteFile" -> "KERNEL32.dll", "VirtualAlloc" -> "KERNEL32.dll",
    "GetProcAddress" -> "KERNEL32.dll", "LoadLibraryA" -> "KERNEL32.dll",
    "RegOpenKeyExA" -> "ADVAPI32.dll", "RegSetValueExA" -> "ADVAPI32.dll",
    "CryptEncrypt" -> "ADVAPI32.dll", "InternetOpenA" -> "WININET.dll",
    "HttpSendRequestA" -> "WININET.dll", "connect" -> "WS2_32.dll",
    "send" -> "WS2_32.dll", "recv" -> "WS2_32.dll", "malloc" -> "MSVCRT.dll",
    "memcpy" -> "MSVCRT.dll", "printf" -> "MSVCRT.dll", "strlen" -> "MSVCRT.dll",
    "MessageBoxA" -> "USER32.dll", "GetWindowTextA" -> "USER32.dll")

  /** Fixed word list (seed-independent) from syllables; the Zipf rank
    * of a word is its index. */
  private val Words: Vector[String] = {
    val syl = Vector("ka", "ro", "mi", "te", "su", "na", "lo", "vi", "de",
      "pa", "zu", "ge", "bo", "fi", "ny", "wa")
    (for (a <- syl; b <- syl; c <- Seq("", "n", "l")) yield a + b + c).distinct
  }
  private val zipfCdf: Array[Double] = {
    val w = Words.indices.map(i => 1.0 / math.pow(i + 1, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private def zipfWord(r: java.util.Random): String = {
    val i = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
    Words(math.min(Words.size - 1, if (i >= 0) i else -i - 1))
  }

  private def rng(seed: Long, tag: String): java.util.Random =
    new java.util.Random(seed * 1000003L ^ tag.hashCode.toLong * 7919L)

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Out-degree with a power-law tail: P(d >= k) ~ k^-1.6, capped. */
  private def fanOut(r: java.util.Random, cap: Int): Int =
    math.min(cap, (math.pow(1.0 - r.nextDouble(), -1.0 / 1.6) - 1.0).toInt)

  /** Seed of every binary's shape; see [[binary]]. */
  private val ShapeSeed = 0x5eedL

  /** One binary, named `tag`. The run's seed draws its content: hash,
    * function names, string words, library spellings and file format.
    * Its shape (how many functions, imports and strings; the call graph;
    * which functions are exported) depends on the tag alone, so every
    * seed asks the engine for the same amount of work. */
  def binary(seed: Long, tag: String, nFns: Int): Bin = {
    val r = rng(seed, tag)
    val s = rng(ShapeSeed, tag)
    val hash = sha256(s"$seed/$tag")
    val (format, ext, arch) = r.nextInt(3) match {
      case 0 => ("PE32+ executable", ".exe", "x86_64")
      case 1 => ("ELF 64-bit LSB", ".so", "x86_64")
      case _ => ("Mach-O 64-bit", ".dylib", "arm64")
    }
    val names = scala.collection.mutable.LinkedHashSet.empty[String]
    names ++= SharedNames
    while (names.size < nFns) {
      val n = s"${Verbs(r.nextInt(Verbs.size))}_${Nouns(r.nextInt(Nouns.size))}"
      names += (if (names.contains(n)) s"${n}_${names.size}" else n)
    }
    val fns = names.toVector.zipWithIndex.map { case (n, i) =>
      Fn(n, 0x401000L + 0x100L * i)
    }
    val apis = s.ints(0, Apis.size).distinct().limit(6L + s.nextInt(8))
      .toArray.toVector.sorted
    val imports = apis.zipWithIndex.map { case (a, k) =>
      val (name, lib) = Apis(a)
      val written = r.nextInt(3) match {
        case 0 => lib
        case 1 => lib.toLowerCase
        case _ => lib.head + lib.tail.toLowerCase
      }
      Imp(name, written, 0x500000L + 8L * k)
    }
    val strings = (0 until 16 + s.nextInt(16)).map { k =>
      val words = Vector.fill(1 + s.nextInt(3))(zipfWord(r))
      (words.mkString(" "), 0x600000L + 0x40L * k)
    }.toVector
    val calls = fns.flatMap { f =>
      val targets = (0 until fanOut(s, 24)).map { _ =>
        if (s.nextDouble() < 0.75) fns(s.nextInt(fns.size)).addr
        else imports(s.nextInt(imports.size)).addr
      }.distinct
      targets.zipWithIndex.map { case (t, k) =>
        val kind = s.nextInt(10) match {
          case 0 => "indirect"
          case 1 => "tail"
          case _ => "direct"
        }
        Call(f.addr, t, f.addr + 4L + 6L * k, kind)
      }
    }
    val exports = fns.filter(f => f.name == "main" || s.nextInt(12) == 0)
    Bin(hash, f"$tag$ext", format, arch, 4096L + r.nextInt(1 << 20),
      fns, imports, exports, strings, calls)
  }

  def json(b: Bin): String = {
    val sb = new StringBuilder
    def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def arr[T](xs: Seq[T])(f: T => String): String = xs.map(f).mkString("[", ",", "]")
    sb ++= "{\"binary_info\":{\"name\":" ++= str(b.name)
    sb ++= ",\"file_path\":" ++= str(s"/samples/${b.name}")
    sb ++= s""","file_size":${b.size},"file_type":{"type":${str(b.format)},"architecture":${str(b.arch)}}"""
    sb ++= s""","hashes":{"sha256":${str(b.hash)}}},"functions":"""
    sb ++= arr(b.fns)(f => s"""{"name":${str(f.name)},"address":"${hex(f.addr)}","size":256}""")
    sb ++= ",\"imports\":" ++= arr(b.imports)(i =>
      s"""{"name":${str(i.name)},"library":${str(i.library)},"address":"${hex(i.addr)}"}""")
    sb ++= ",\"exports\":" ++= arr(b.exports)(f =>
      s"""{"name":${str(f.name)},"address":"${hex(f.addr)}"}""")
    sb ++= ",\"strings\":" ++= arr(b.strings) { case (v, a) =>
      s"""{"value":${str(v)},"address":"${hex(a)}"}""" }
    sb ++= ",\"calls\":" ++= arr(b.calls)(c =>
      s"""{"from_address":"${hex(c.from)}","to_address":"${hex(c.to)}","offset":"${hex(c.site)}","type":"${c.kind}"}""")
    sb ++= "}\n"
    sb.toString
  }

  /** Write each binary as `<dir>/<name>.json`; returns bytes written. */
  def write(dir: Path, bins: Seq[Bin]): Long = {
    Files.createDirectories(dir)
    bins.map { b =>
      val bytes = json(b).getBytes(UTF_8)
      Files.write(dir.resolve(s"${b.name}.json"), bytes)
      bytes.length.toLong
    }.sum
  }
}
