package graft.analysis

/** Delimited payload extraction (reference:
  * Analysis/Payloads/DelimitedPayloadTokenFilter.cs + the encoder
  * family FloatEncoder/IntegerEncoder/IdentityEncoder — re-thought as a
  * tokenizer wrapper): a token `term|x` splits at the LAST delimiter
  * into the plain term plus a payload byte array produced by the
  * encoder. Tokens without the delimiter carry no payload. The payload
  * rides the token through the analyzer chain into the payloads of the
  * postings row, position-aligned. */
object DelimitedPayload {

  /** Big-endian float bytes (reference: Analysis/Payloads/FloatEncoder.cs
    * via PayloadHelper.EncodeSingle). */
  def floatEncoder(s: String): Array[Byte] = {
    val bits = java.lang.Float.floatToIntBits(s.toFloat)
    Array(((bits >> 24) & 0xff).toByte, ((bits >> 16) & 0xff).toByte,
      ((bits >> 8) & 0xff).toByte, (bits & 0xff).toByte)
  }

  /** Big-endian float from payload bytes (PayloadHelper.DecodeSingle). */
  def decodeFloat(b: Array[Byte]): Float =
    java.lang.Float.intBitsToFloat(
      ((b(0) & 0xff) << 24) | ((b(1) & 0xff) << 16) |
      ((b(2) & 0xff) << 8) | (b(3) & 0xff))

  /** Whitespace tokenization (reference: Analysis/Core/WhitespaceTokenizer
    * .cs) — the usual base under a delimited-payload filter, since the
    * delimiter must survive tokenization. */
  object Whitespace extends (String => Array[RawToken]) with Serializable {
    def apply(text: String): Array[RawToken] = {
      val out = new scala.collection.mutable.ArrayBuffer[RawToken]()
      var i = 0
      val n = text.length
      while (i < n) {
        if (Character.isWhitespace(text(i))) i += 1
        else {
          var j = i + 1
          while (j < n && !Character.isWhitespace(text(j))) j += 1
          out += RawToken(text.substring(i, j), i, j, "<WORD>")
          i = j
        }
      }
      out.toArray
    }
  }

  def tokenizer(base: String => Array[RawToken] = Whitespace,
                delimiter: Char = '|',
                encoder: String => Array[Byte] = floatEncoder)
      : String => Array[RawToken] =
    (text: String) => base(text).map { t =>
      val i = t.term.lastIndexOf(delimiter)
      if (i < 0) t
      else t.copy(term = t.term.substring(0, i),
        payload = encoder(t.term.substring(i + 1)))
    }
}
