package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{BinaryType, IntegerType, StringType}

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, FloatType}

import graft.functions.{BlocklistHits, BloomMightContain, CharNgrams, CosineSimilarity, DamerauLevenshtein, DlSignatures, DotProduct, FlatJson, Fnv1a32, JaroWinkler, MapMaskKeys, MinHashSignature, MinShingleMd5, OrderedFold, PqAdc, PqEncode, PqLut, RowImage, SimHash64, SlotAgreement, Sq8Cos, Sq8Encode, SrpBucket, WordShingleHashes}

/** Engine extensions, installed via
  * `spark.sql.extensions=graft.GraftExtensions` or
  * `GraftExtensions.register(spark)`: native expressions the built-in
  * function surface lacks (SURVEY §7 custom-Catalyst lane).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftExtensions {
  /** Train-time constants (codebooks, shape params) arrive from the
    * DataFrame API as `typedLit`/`lit` literals; builders unwrap them at
    * resolution so the expression carries plain arrays — codegen
    * reference objects, not per-row children.
    */
  private def intLit(e: Expression, fn: String, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $what must be an integer literal, got $other")
  }

  private def floatArrayLit(e: Expression, fn: String, what: String): Array[Float] = e match {
    case Literal(data: ArrayData, ArrayType(FloatType, _)) => data.toFloatArray()
    case other => throw new IllegalArgumentException(
      s"$fn: $what must be an array<float> literal, got $other")
  }

  private def stringArrayLit(e: Expression, fn: String, what: String): Seq[String] = e match {
    case Literal(data: ArrayData, ArrayType(st, _)) if st == org.apache.spark.sql.types.StringType =>
      val elems = data.toArray[org.apache.spark.unsafe.types.UTF8String](st).toSeq
      if (elems.exists(_ == null)) throw new IllegalArgumentException(
        s"$fn: $what must not contain null elements")
      elems.map(_.toString)
    case other => throw new IllegalArgumentException(
      s"$fn: $what must be an array<string> literal, got $other")
  }

  private def arity(n: Int, name: String)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    args => {
      require(args.length == n, s"$name takes exactly $n argument(s)")
      build(args)
    }

  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("cosine_similarity", CosineSimilarity.info,
      arity(2, "cosine_similarity")(a => CosineSimilarity(a.head, a(1)))),
    ("dot_product", DotProduct.info,
      arity(2, "dot_product")(a => DotProduct(a.head, a(1)))),
    ("ordered_fold", OrderedFold.info,
      arity(1, "ordered_fold")(a => OrderedFold(a.head))),
    ("dl_signatures", DlSignatures.info,
      arity(2, "dl_signatures")(a => DlSignatures(a.head, a(1) match {
        case Literal(b: Boolean, org.apache.spark.sql.types.BooleanType) => b
        case other => throw new IllegalArgumentException(
          s"dl_signatures: withWindows must be a boolean literal, got $other")
      }))),
    ("minhash_signature", MinHashSignature.info,
      arity(1, "minhash_signature")(a => MinHashSignature(a.head))),
    ("simhash64", SimHash64.info,
      arity(1, "simhash64")(a => SimHash64(a.head))),
    ("slot_agreement", SlotAgreement.info,
      arity(2, "slot_agreement")(a => SlotAgreement(a.head, a(1)))),
    ("fnv1a32", Fnv1a32.info,
      arity(1, "fnv1a32")(a => Fnv1a32(a.head))),
    ("flat_json", FlatJson.info,
      arity(3, "flat_json")(a => FlatJson(a.head, a(1), a(2)))),
    ("row_image", RowImage.info, args => {
      require(args.length % 2 == 0, "row_image takes key/value pairs")
      val pairs = args.grouped(2).toSeq
      RowImage(pairs.map {
        case Seq(Literal(k: org.apache.spark.unsafe.types.UTF8String, StringType), _) =>
          k.toString
        case Seq(other, _) => throw new IllegalArgumentException(
          s"row_image: keys must be non-null string literals, got $other")
      }, pairs.map(_(1)))
    }),
    ("map_mask_keys", MapMaskKeys.info,
      arity(3, "map_mask_keys")(a => MapMaskKeys(a.head, a(1), a(2)))),
    ("min_shingle_md5", MinShingleMd5.info, args => {
      require(args.length == 1 || args.length == 2,
        "min_shingle_md5(text[, n]) takes 1 or 2 arguments")
      val n = args.lift(1).map {
        case Literal(v: Int, IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"min_shingle_md5: n must be an integer literal, got $other")
      }.getOrElse(3)
      MinShingleMd5(args.head, n)
    }),
    ("srp_bucket", SrpBucket.info, args => {
      require(args.length == 3, "srp_bucket(vec, nBits, table) takes 3 arguments")
      def intLit(e: Expression, what: String): Int = e match {
        case Literal(v: Int, IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"srp_bucket: $what must be an integer literal, got $other")
      }
      SrpBucket(args.head, intLit(args(1), "nBits"), intLit(args(2), "table"))
    }),
    ("pq_encode", PqEncode.info, args => {
      require(args.length == 4, "pq_encode(vec, codebook, m, k) takes 4 arguments")
      PqEncode(args.head, floatArrayLit(args(1), "pq_encode", "codebook"),
        intLit(args(2), "pq_encode", "m"), intLit(args(3), "pq_encode", "k"))
    }),
    ("pq_lut", PqLut.info, args => {
      require(args.length == 4, "pq_lut(vec, codebook, m, k) takes 4 arguments")
      PqLut(args.head, floatArrayLit(args(1), "pq_lut", "codebook"),
        intLit(args(2), "pq_lut", "m"), intLit(args(3), "pq_lut", "k"))
    }),
    ("pq_adc", PqAdc.info,
      arity(2, "pq_adc")(a => PqAdc(a.head, a(1)))),
    ("sq8_encode", Sq8Encode.info, args => {
      require(args.length == 3, "sq8_encode(vec, mins, scales) takes 3 arguments")
      Sq8Encode(args.head, floatArrayLit(args(1), "sq8_encode", "mins"),
        floatArrayLit(args(2), "sq8_encode", "scales"))
    }),
    ("sq8_cos", Sq8Cos.info, args => {
      require(args.length == 4, "sq8_cos(query, codes, mins, scales) takes 4 arguments")
      Sq8Cos(args.head, args(1), floatArrayLit(args(2), "sq8_cos", "mins"),
        floatArrayLit(args(3), "sq8_cos", "scales"))
    }),
    ("jaro_winkler", JaroWinkler.info,
      arity(2, "jaro_winkler")(a => JaroWinkler(a.head, a(1)))),
    ("damerau_levenshtein", DamerauLevenshtein.info,
      arity(2, "damerau_levenshtein")(a => DamerauLevenshtein(a.head, a(1)))),
    ("word_ngrams", graft.functions.WordNgrams.info,
      arity(2, "word_ngrams")(a => graft.functions.WordNgrams(a.head,
        intLit(a(1), "word_ngrams", "n")))),
    ("word_windows", graft.functions.WordWindows.info,
      arity(2, "word_windows")(a => graft.functions.WordWindows(a.head,
        intLit(a(1), "word_windows", "w")))),
    ("word_ngrams_upto", graft.functions.WordNgramsUpto.info,
      arity(2, "word_ngrams_upto")(a => graft.functions.WordNgramsUpto(a.head,
        intLit(a(1), "word_ngrams_upto", "nMax")))),
    ("char_ngrams", CharNgrams.info, args => {
      require(args.length == 2 || args.length == 3,
        "char_ngrams(text, nMax[, nMin]) takes 2 or 3 arguments")
      CharNgrams(args.head, intLit(args(1), "char_ngrams", "nMax"),
        args.lift(2).map(intLit(_, "char_ngrams", "nMin")).getOrElse(1))
    }),
    ("blocklist_hits", BlocklistHits.info,
      arity(2, "blocklist_hits")(a =>
        BlocklistHits(a.head, stringArrayLit(a(1), "blocklist_hits", "patterns")))),
    ("bloom_might_contain", BloomMightContain.info, args => {
      require(args.length == 2,
        "bloom_might_contain(key, filterBytes) takes 2 arguments")
      val bytes = args(1) match {
        case Literal(v: Array[Byte], BinaryType) => v
        case other => throw new IllegalArgumentException(
          s"bloom_might_contain: filter must be a binary literal, got $other")
      }
      BloomMightContain(args.head, BloomMightContain.deserialize(bytes))
    }),
    ("word_shingle_hashes", WordShingleHashes.info, args => {
      require(args.length == 1 || args.length == 2,
        "word_shingle_hashes(text[, n]) takes 1 or 2 arguments")
      val n = args.lift(1).map {
        case Literal(v: Int, IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"word_shingle_hashes: n must be an integer literal, got $other")
      }.getOrElse(3)
      WordShingleHashes(args.head, n)
    }),
  )

  /** Register on an already-built session (covers the test/REPL path). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (name, info, builder) =>
      registry.registerFunction(FunctionIdentifier(name), info, builder)
    }
  }
}
