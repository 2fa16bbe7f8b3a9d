package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StringType, TimestampType}

/** Engine extension point: registers graft's native expressions into the
  * session's function registry so they resolve from SQL and
  * `call_function`.
  *
  * Two activation paths:
  *  - at session build time:
  *    `SparkSession.builder.withExtensions(new GraftExtensions)` or
  *    `spark.sql.extensions=graft.plans.GraftExtensions`;
  *  - on a live session: `GraftExtensions.register(spark)` (used by the
  *    library entry points — function registration is idempotent).
  *
  * No custom optimizer rules or strategies are injected: SURVEY.md §4.1
  * establishes that stock Catalyst + AQE covers this engine's plan space;
  * the extension surface carries only scalar expressions Spark lacks.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.cosineSimDescriptor)
    ext.injectFunction(GraftExtensions.tzLocalizeDescriptor)
    ext.injectFunction(GraftExtensions.minhashSigDescriptor)
    ext.injectFunction(GraftExtensions.nearestCentroidDescriptor)
    ext.injectFunction(GraftExtensions.nearestCentroidsDescriptor)
    ext.injectFunction(GraftExtensions.lshSignaturesDescriptor)
    ext.injectFunction(GraftExtensions.tokenHashesDescriptor)
    ext.injectFunction(GraftExtensions.minhashBandHashesDescriptor)
    ext.injectFunction(GraftExtensions.agreeCountDescriptor)
    ext.injectFunction(GraftExtensions.bloomMightContainDescriptor)
    ext.injectFunction(GraftExtensions.shingleHashesDescriptor)
    ext.injectFunction(GraftExtensions.stopwordLangCountsDescriptor)
    ext.injectFunction(GraftExtensions.cjkCountDescriptor)
    ext.injectFunction(GraftExtensions.misraGriesKeysDescriptor)
    ext.injectFunction(GraftExtensions.shingleHashesPosDescriptor)
    ext.injectFunction(GraftExtensions.charEntropyDescriptor)
    ext.injectFunction(GraftExtensions.jaroWinklerDescriptor)
    ext.injectFunction(GraftExtensions.damerauLevenshteinDescriptor)
    ext.injectFunction(GraftExtensions.cmsSketchDescriptor)
    ext.injectFunction(GraftExtensions.cmsEstimateDescriptor)
  }
}

object GraftExtensions {

  private[plans] val cosineSimDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("cosine_sim"),
    new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "cosine_sim(a, b) takes two arrays")
      // widen float32 embeddings etc. to array<double> at the boundary
      CosineSimilarity(
        Cast(children.head, ArrayType(DoubleType)),
        Cast(children(1), ArrayType(DoubleType)))
    })

  private[plans] val tzLocalizeDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("tz_localize"),
    new ExpressionInfo(classOf[TzLocalizeExpr].getName, "tz_localize"),
    (children: Seq[Expression]) => {
      require(children.length == 2,
        "tz_localize(ts, zone) takes a timestamp and a literal zone id")
      val zone = children(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(z, StringType)
            if z != null => z.toString
        case other => throw new IllegalArgumentException(
          s"tz_localize zone must be a string literal, got $other")
      }
      TzLocalizeExpr(Cast(children.head, TimestampType), zone)
    })

  private[plans] val minhashSigDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("minhash_sig"),
    new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_sig"),
    (children: Seq[Expression]) => {
      require(children.length == 3,
        "minhash_sig(wordHashes, numHashes, shingleSize)")
      // array<bigint> cast at the boundary: misuse fails analysis, not
      // the executor (same contract as cosine/shingle_hashes)
      MinHashSignature(Cast(children.head, ArrayType(LongType)),
        intLit(children(1), "minhash_sig numHashes"),
        intLit(children(2), "minhash_sig shingleSize"))
    })

  private[plans] val nearestCentroidDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("nearest_centroid"),
    new ExpressionInfo(classOf[NearestCentroid].getName, "nearest_centroid"),
    (children: Seq[Expression]) => {
      require(children.length == 2,
        "nearest_centroid(vec, centroidsMatrix) takes two arguments")
      NearestCentroid(Cast(children.head, ArrayType(DoubleType)),
        foldMatrix(children(1), "nearest_centroid codebook"))
    })

  private[plans] val nearestCentroidsDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("nearest_centroids"),
    new ExpressionInfo(classOf[NearestCentroids].getName, "nearest_centroids"),
    (children: Seq[Expression]) => {
      require(children.length == 3,
        "nearest_centroids(vec, centroidsMatrix, n) takes three arguments")
      NearestCentroids(Cast(children.head, ArrayType(DoubleType)),
        foldMatrix(children(1), "nearest_centroids codebook"),
        intLit(children(2), "nearest_centroids n"))
    })

  private[plans] val lshSignaturesDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("lsh_signatures"),
    new ExpressionInfo(classOf[HyperplaneSignatures].getName, "lsh_signatures"),
    (children: Seq[Expression]) => {
      require(children.length == 3,
        "lsh_signatures(vec, planesMatrix, bitsPerBand) takes three arguments")
      HyperplaneSignatures(Cast(children.head, ArrayType(DoubleType)),
        foldMatrix(children(1), "lsh_signatures planes"),
        intLit(children(2), "lsh_signatures bitsPerBand"))
    })

  private[plans] val tokenHashesDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("token_hashes"),
    new ExpressionInfo(classOf[TokenHashes].getName, "token_hashes"),
    (children: Seq[Expression]) => {
      require(children.length == 1 || children.length == 2,
        "token_hashes(tokens[, modulus]) takes one or two arguments")
      val modulus = children.lift(1).map {
        case org.apache.spark.sql.catalyst.expressions.Literal(v, _)
            if v != null => v.toString.toLong
        case other => throw new IllegalArgumentException(
          s"token_hashes modulus must be an integer literal, got $other")
      }.getOrElse(0L)
      TokenHashes(Cast(children.head, ArrayType(StringType)), modulus)
    })

  private[plans] val minhashBandHashesDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("minhash_band_hashes"),
    new ExpressionInfo(classOf[MinHashBandHashes].getName, "minhash_band_hashes"),
    (children: Seq[Expression]) => {
      require(children.length == 3,
        "minhash_band_hashes(minhash, bands, rowsPerBand) takes three arguments")
      MinHashBandHashes(Cast(children.head, ArrayType(LongType)),
        intLit(children(1), "minhash_band_hashes bands"),
        intLit(children(2), "minhash_band_hashes rowsPerBand"))
    })

  private[plans] val agreeCountDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("agree_count"),
    new ExpressionInfo(classOf[AgreeCount].getName, "agree_count"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "agree_count(a, b) takes two arrays")
      AgreeCount(Cast(children.head, ArrayType(LongType)),
        Cast(children(1), ArrayType(LongType)))
    })

  private[plans] val bloomMightContainDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("bloom_might_contain"),
    new ExpressionInfo(classOf[BloomMightContainExpr].getName,
      "bloom_might_contain"),
    (children: Seq[Expression]) => {
      require(children.length == 2,
        "bloom_might_contain(serializedBloom, longKey) takes two arguments")
      val bytesExpr = children.head
      require(bytesExpr.foldable,
        "bloom_might_contain sketch must be a foldable binary literal")
      // deserialize the sketch ONCE at plan construction; the expression
      // carries the live BloomFilter as a reference constant
      val bytes = bytesExpr.eval() match {
        case b: Array[Byte] => b
        case other => throw new IllegalArgumentException(
          s"bloom_might_contain sketch evaluated to $other")
      }
      BloomMightContainExpr(Cast(children(1), LongType),
        BloomMightContainExpr.deserialize(bytes))
    })

  private[plans] val shingleHashesDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("shingle_hashes"),
    new ExpressionInfo(classOf[ShingleHashes].getName, "shingle_hashes"),
    (children: Seq[Expression]) => {
      require(children.length == 2,
        "shingle_hashes(wordHashes, shingleSize) takes two arguments")
      val n = intLit(children(1), "shingle_hashes size")
      // Cast to array<bigint> at the boundary (the cosine/minhash pattern):
      // a non-array argument fails analysis instead of throwing a
      // ClassCastException in the executor
      ShingleHashes(Cast(children.head, ArrayType(LongType)), n)
    })

  private[plans] val stopwordLangCountsDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("stopword_lang_counts"),
    new ExpressionInfo(classOf[StopwordLangCounts].getName,
      "stopword_lang_counts"),
    (children: Seq[Expression]) => {
      require(children.length == 1,
        "stopword_lang_counts(wordHashes) takes one array<bigint>")
      StopwordLangCounts(Cast(children.head, ArrayType(LongType)))
    })

  private[plans] val cjkCountDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("cjk_count"),
    new ExpressionInfo(classOf[CjkCount].getName, "cjk_count"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "cjk_count(text) takes one string")
      CjkCount(Cast(children.head, StringType))
    })

  private[plans] val shingleHashesPosDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("shingle_hashes_pos"),
    new ExpressionInfo(classOf[ShingleHashesPos].getName, "shingle_hashes_pos"),
    (children: Seq[Expression]) => {
      require(children.length == 2,
        "shingle_hashes_pos(wordHashes, shingleSize) takes two arguments")
      val n = intLit(children(1), "shingle_hashes_pos size")
      ShingleHashesPos(Cast(children.head, ArrayType(LongType)), n)
    })

  private[plans] val misraGriesKeysDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("misra_gries_keys"),
    new ExpressionInfo(classOf[MisraGriesKeys].getName, "misra_gries_keys"),
    (children: Seq[Expression]) => {
      require(children.length == 2,
        "misra_gries_keys(keyArray, capacity) takes two arguments")
      val cap = intLit(children(1), "misra_gries_keys capacity")
      // array<bigint> cast at the boundary: misuse fails analysis (the
      // cosine/minhash/shingle_hashes contract)
      MisraGriesKeys(Cast(children.head, ArrayType(LongType)), cap)
    })

  private[plans] val charEntropyDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("char_entropy"),
    new ExpressionInfo(classOf[CharEntropy].getName, "char_entropy"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "char_entropy(text) takes one string")
      CharEntropy(Cast(children.head, StringType))
    })

  private[plans] val jaroWinklerDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("jaro_winkler"),
    new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "jaro_winkler(a, b) takes two strings")
      JaroWinkler(Cast(children.head, StringType),
        Cast(children(1), StringType))
    })

  private[plans] val damerauLevenshteinDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("damerau_levenshtein"),
    new ExpressionInfo(classOf[DamerauLevenshtein].getName,
      "damerau_levenshtein"),
    (children: Seq[Expression]) => {
      require(children.length == 2,
        "damerau_levenshtein(a, b) takes two strings")
      DamerauLevenshtein(Cast(children.head, StringType),
        Cast(children(1), StringType))
    })

  private[plans] val cmsSketchDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("cms_sketch"),
    new ExpressionInfo(classOf[CountMinSketchAgg].getName, "cms_sketch"),
    (children: Seq[Expression]) => {
      require(children.length == 3,
        "cms_sketch(longKey, depth, width) takes three arguments")
      CountMinSketchAgg(Cast(children.head, LongType),
        intLit(children(1), "cms_sketch depth"),
        intLit(children(2), "cms_sketch width"))
    })

  private[plans] val cmsEstimateDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("cms_estimate"),
    new ExpressionInfo(classOf[CmsEstimate].getName, "cms_estimate"),
    (children: Seq[Expression]) => {
      require(children.length == 2,
        "cms_estimate(serializedSketch, longKey) takes two arguments")
      val sketchExpr = children.head
      require(sketchExpr.foldable,
        "cms_estimate sketch must be a foldable binary literal")
      val bytes = sketchExpr.eval() match {
        case b: Array[Byte] => b
        case other => throw new IllegalArgumentException(
          s"cms_estimate sketch evaluated to $other")
      }
      CmsEstimate(Cast(children(1), LongType), bytes)
    })

  /** Folds a foldable `array<array<double>>` argument ONCE at plan
    * construction: the expression carries a `double[][]` reference
    * constant instead of re-evaluating a CreateArray tree per row.
    */
  private def foldMatrix(e: Expression, what: String): Array[Array[Double]] = {
    require(e.foldable, s"$what must be a foldable array<array<double>>")
    e.eval() match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData =>
        Array.tabulate(a.numElements()) { c =>
          val row = a.getArray(c)
          Array.tabulate(row.numElements())(row.getDouble)
        }
      case other => throw new IllegalArgumentException(
        s"$what evaluated to $other")
    }
  }

  private def intLit(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v, _)
        if v != null => v.toString.toInt
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** Idempotent registration on a live session. */
  def register(spark: SparkSession): Unit = {
    for ((id, info, builder) <- Seq(cosineSimDescriptor, tzLocalizeDescriptor,
        minhashSigDescriptor, nearestCentroidDescriptor,
        nearestCentroidsDescriptor, lshSignaturesDescriptor,
        tokenHashesDescriptor, minhashBandHashesDescriptor,
        agreeCountDescriptor,
        bloomMightContainDescriptor, shingleHashesDescriptor,
        stopwordLangCountsDescriptor, cjkCountDescriptor,
        misraGriesKeysDescriptor, shingleHashesPosDescriptor,
        charEntropyDescriptor, jaroWinklerDescriptor,
        damerauLevenshteinDescriptor, cmsSketchDescriptor,
        cmsEstimateDescriptor))
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
  }
}
