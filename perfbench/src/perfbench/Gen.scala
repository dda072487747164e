package perfbench

/** Seeded input generator, kept apart from the program so that no change
  * to the program can change a workload's inputs. The code-file generator
  * follows the zipf source-code corpus of the program's fixtures: keyword
  * lines over a log-uniform (density ~ 1/rank) identifier vocabulary, so a
  * few keywords are in almost every file while most identifiers are rare.
  * Every value is a pure function of (seed, row, stream).
  */
object Gen {

  private val keywords = Array(
    Array("def", "val", "var", "if", "else", "match", "case", "return", "for", "while", "class", "object", "import", "new", "override"),
    Array("int", "char", "void", "if", "else", "return", "for", "while", "struct", "static", "const", "switch", "case", "break", "sizeof"),
    Array("def", "if", "else", "elif", "return", "for", "while", "class", "import", "from", "lambda", "yield", "with", "try", "except"),
    Array("function", "var", "let", "const", "if", "else", "return", "for", "while", "class", "import", "export", "new", "async", "await"))

  /** Keywords that occur in most files: the hot terms the build salts. */
  val hotKeywords: Array[String] = Array("if", "return", "while", "for", "else", "class")

  val vocabSize = 5000

  @inline def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  @inline def draw(seed: Long, row: Long, stream: Long): Long =
    splitmix64(splitmix64(seed ^ row) ^ (stream * 0x632be59bd9b4e019L))

  @inline def uniform(bits: Long): Double =
    ((bits >>> 11).toDouble) / (1L << 53).toDouble

  @inline def below(bits: Long, n: Long): Long = java.lang.Long.remainderUnsigned(bits, n)

  @inline def zipfRank(u: Double): Int =
    math.min(math.pow(vocabSize.toDouble, u).toInt, vocabSize - 1)

  /** Identifier of a vocabulary rank (2 to 10 lowercase letters). */
  def ident(rank: Int): String = {
    val len = 2 + (rank % 9)
    val sb = new StringBuilder(len)
    var x = splitmix64(rank.toLong * 0x9e3779b97f4a7c15L + 12345L)
    var i = 0
    while (i < len) {
      sb.append(('a' + below(x, 26L).toInt).toChar)
      x = splitmix64(x)
      i += 1
    }
    sb.toString
  }

  /** Content of source file `i`: 5 to 44 keyword lines. */
  def codeFile(seed: Long, i: Long): String = {
    val kws = keywords(below(draw(seed, i, 0), keywords.length.toLong).toInt)
    val nLines = 5 + below(draw(seed, i, 6), 40L).toInt
    val sb = new StringBuilder(nLines * 40)
    var stream = 16L
    var ln = 0
    while (ln < nLines) {
      val kw = kws(below(draw(seed, i, stream), kws.length.toLong).toInt); stream += 1
      val id1 = ident(zipfRank(uniform(draw(seed, i, stream)))); stream += 1
      val id2 = ident(zipfRank(uniform(draw(seed, i, stream)))); stream += 1
      val num = below(draw(seed, i, stream), 1000L); stream += 1
      val shape = below(draw(seed, i, stream), 4L).toInt; stream += 1
      sb.append(shape match {
        case 0 => s"$kw $id1 = $id2($num);"
        case 1 => s"if ($id1 != $num) return $id2;"
        case 2 => s"$kw $id1($id2) { $id2 = $id1 + $num }"
        case _ => s"while ($id1 < $num) { $id2 += 1 }"
      }).append('\n')
      ln += 1
    }
    sb.toString
  }

  // ---- U+FFFE pre-tokenized files --------------------------------------
  // Fixed content, independent of the seed: every word is longer than any
  // generated identifier, so no other file shares a term with them.

  private val fffeNames = Array("alpha", "bravo", "charlie", "delta", "echo", "foxtrot")

  /** Number of pre-tokenized files appended to every code corpus. */
  val fffeFiles: Int = fffeNames.length

  /** The single token a pre-tokenized word indexes as. */
  def fffeTerm(j: Int): String = s"zzpre${fffeNames(j)}zzseg${fffeNames(j)}"

  /** Pre-tokenized file `j`: its own word three times and its neighbour's
    * once, each split by U+FFFE inside the word.
    */
  def fffeFile(j: Int): String = {
    def word(x: Int) = s"zzpre${fffeNames(x)}" + '\uFFFE' + s"zzseg${fffeNames(x)}"
    val other = (j + 1) % fffeFiles
    s"${word(j)} ${word(j)}\n${word(other)} ${word(j)}\n"
  }

  /** The code corpus of a workload: files 0 until n from the generator,
    * then the pre-tokenized files with ids n until n + fffeFiles.
    */
  def corpusContent(seed: Long, n: Int, id: Long): String =
    if (id < n) codeFile(seed, id) else fffeFile((id - n).toInt)

  // ---- window rows -----------------------------------------------------

  val windowVocab = 600

  /** One day-shard row: 8 to 19 whitespace-separated words (TokenDelimit). */
  def windowRow(seed: Long, day: Int, i: Int): String = {
    val row = day.toLong * 1000003L + i
    val n = 8 + below(draw(seed, row, 1), 12L).toInt
    val sb = new StringBuilder(n * 8)
    var j = 0
    while (j < n) {
      if (j > 0) sb.append(' ')
      val u = uniform(draw(seed, row, 100 + j))
      sb.append("w").append(ident(math.min(math.pow(windowVocab.toDouble, u).toInt, windowVocab - 1)))
      j += 1
    }
    sb.toString
  }

  /** Second of the day of row `i` among `rows` evenly spread rows. */
  def windowSecond(i: Int, rows: Int): Long = i.toLong * 86400L / rows
}
