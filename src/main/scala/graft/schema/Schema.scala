package graft.schema

import org.apache.spark.sql.types._

/** Engine data model, per BASELINE.json `input_hint`.
  *
  * One table of image+caption rows replaces the reference tool's two
  * filesystem trees (scan dir + reference dir — see
  * /root/reference/df_finder3.py:19). The `role` column carries the
  * scan/ref distinction; `mtime` preserves the reference's sub-second
  * modified-time semantics (/root/reference/duplicate_files_in_folders/
  * file_manager.py:224 stores float epoch seconds and tests rely on
  * 0.1 s deltas changing the match key).
  */
final case class ImageRow(
    image_id: String,  // ≅ reference 'path' — stable row identity
    bytes: Array[Byte],// ≅ file content (what gets hashed)
    w: Int,
    h: Int,
    fmt: String,       // ≅ filename extension (whitelist/blacklist filters)
    caption: String,   // ≅ filename component of the key (near-dup axis A)
    phash: Long,       // 64-bit perceptual hash   (near-dup axis B)
    role: String,      // 'scan' | 'ref'
    mtime: java.sql.Timestamp,
    truth_cluster: Long // oracle-only planted cluster id; pipeline MUST NOT read it
)

object ImageRow {
  val schema: StructType = StructType(Seq(
    StructField("image_id", StringType, nullable = false),
    StructField("bytes", BinaryType, nullable = false),
    StructField("w", IntegerType, nullable = false),
    StructField("h", IntegerType, nullable = false),
    StructField("fmt", StringType, nullable = false),
    StructField("caption", StringType, nullable = false),
    StructField("phash", LongType, nullable = false),
    StructField("role", StringType, nullable = false),
    StructField("mtime", TimestampType, nullable = false),
    StructField("truth_cluster", LongType, nullable = false)
  ))
}

/** Which optional components participate in the match key — the engine
  * form of the reference's `--ignore_diff` set
  * (/root/reference/duplicate_files_in_folders/utils.py:117-123):
  * key = content hash (always) + caption unless ignored + mtime unless
  * ignored (utils.py:220-231). */
final case class KeyConfig(
    // Reference default is ignore_diff={mdate} (utils.py:51-54): the match
    // key KEEPS the filename and ignores mtime — so the engine default keeps
    // the caption component. Renamed-but-identical content is then (as in
    // the reference) not an *exact* duplicate; the image axis (identical
    // phash collapse) still clusters it when pHash blocking is enabled.
    ignoreCaption: Boolean = false,
    ignoreMtime: Boolean = true,
    fullHash: Boolean = false      // false ⇒ partial hash of first 2 MiB (hash_manager.py:216-233)
)

/** Size/extension row filter — reference `filter_files_by_args`
  * (/root/reference/duplicate_files_in_folders/duplicates_finder.py:54-67). */
final case class FilterConfig(
    minSize: Long = 0L,
    maxSize: Long = Long.MaxValue,
    whitelistExt: Option[Set[String]] = None,
    blacklistExt: Option[Set[String]] = None
) {
  require(
    whitelistExt.isEmpty || blacklistExt.isEmpty,
    "whitelist and blacklist extensions are mutually exclusive (utils.py:126-129)")
}

object FilterConfig {
  /** Size-string parse — reference `parse_size`
    * (/root/reference/duplicate_files_in_folders/utils.py:19-40):
    * `"10MB"` → bytes; case-insensitive unit in {B, KB, MB, GB, TB}
    * (1024-based); bare digits are bytes; negatives and garbage rejected.
    * Driver-side config nicety, not a row operator. */
  def parseSize(s: String): Long = {
    val m = "^\\s*(\\d+)\\s*([KMGT]?B)?\\s*$".r
      .findFirstMatchIn(s.toUpperCase)
      .getOrElse(throw new IllegalArgumentException(s"invalid size string: '$s'"))
    val n = m.group(1).toLong
    val mult = Option(m.group(2)).getOrElse("B") match {
      case "B" => 1L
      case "KB" => 1L << 10
      case "MB" => 1L << 20
      case "GB" => 1L << 30
      case "TB" => 1L << 40
    }
    math.multiplyExact(n, mult)
  }
}

/** Near-duplicate detection knobs (engine-side; the reference is
  * exact-key only — near-dup axes mandated by BASELINE.json north_rule). */
final case class NearDupConfig(
    shingleK: Int = 3,         // word k-grams over normalized caption
    lshBands: Int = 16,        // MinHash signature length = bands × rowsPerBand
    lshRowsPerBand: Int = 4,
    jaccardThreshold: Double = 0.8,   // verify-stage exact Jaccard
    // pHash blocking: multi-index Hamming (Norouzi et al., CVPR'12).
    // Guaranteed blocking radius = bands × (subRadius+1) − 1 (pigeonhole);
    // the verify stage (`bit_count(xor) ≤ hammingRadius`) is exact either
    // way, so the guarantee must COVER hammingRadius or blocking silently
    // loses qualifying pairs. Defaults (4 × 16-bit chunks, 1-flip probes):
    // guarantee d ≤ 7 = hammingRadius, 17 masks/chunk: 68 bucket rows per
    // hash, one exchange — the 4 mask-0 rows index the hash in its own
    // band buckets, and all 68 probe the buckets they name.
    // Chunk width (64/bands) is the selectivity lever: random-bucket
    // density is n/2^width, so 16-bit chunks stay sparse to n ≈ 10⁷ reps;
    // past that the buckets fatten quadratically — at 10⁹⁺ rows the
    // design note is a 128-bit perceptual hash (8 × 16-bit chunks keep both
    // the guarantee and the selectivity) or sharding by a coarse content
    // descriptor first.
    hammingBands: Int = 4,     // 4 × 16-bit chunks
    hammingSubRadius: Int = 1, // flip-enumeration bits per chunk probe
    hammingRadius: Int = 7,    // exact verify: bit_count(xor) ≤ radius
    // A band value shared by more than this many hashes is a degenerate
    // hash region (solid-color-like inputs): its bucket emits no pairs (its
    // index side is dropped), WITH a logged count — the quadratic guard.
    // Measured at 1M images: 0.6% of buckets above 256 held half of Σ df².
    hammingDfCap: Int = 256,
    // SimHash near-dup radius, same multi-index machinery. The operator's
    // contract is the classic web-dedup one (Manku et al., WWW'07): pairs
    // within an exact Hamming distance of the 64-bit signature. Radius 7
    // (~89% bit agreement) keeps blocking selective — on the sf0.1
    // documents table random pairs sit at median distance 17 with < 1%
    // within 7, while wider radii (e.g. a Jaccard-0.8-complete 15) admit
    // ~36% of ALL pairs, i.e. any recall-complete blocking at 15 is
    // inherently quadratic on vocabulary-correlated corpora. Defaults
    // (4 × 16-bit chunks, 1-flip probes) GUARANTEE recall to the full
    // radius 7 by pigeonhole — the verify stage is exact bit_count.
    simhashBands: Int = 4,     // 4 × 16-bit chunks
    simhashSubRadius: Int = 1, // ≤1-flip probes per chunk (17 masks)
    simhashRadius: Int = 7,    // pair contract: bit_count(xor) ≤ radius
    maxBucketSize: Int = 256   // LSH bucket salting threshold; salted buckets are logged
) {
  require(64 % hammingBands == 0, "hash width must divide into equal chunks")
  require(hammingBands * (hammingSubRadius + 1) - 1 >= hammingRadius,
    "multi-index guarantee must cover the exact verify radius")
  require(64 % simhashBands == 0, "simhash width must divide into equal chunks")
  require(simhashBands * (simhashSubRadius + 1) - 1 >= simhashRadius,
    "simhash multi-index guarantee must cover the blocking radius")
  require(hammingSubRadius <= 3 && simhashSubRadius <= 3,
    "flip enumeration impractical past 3 bits per chunk")
  for ((name, bands, sub) <- Seq(("hamming", hammingBands, hammingSubRadius),
                                 ("simhash", simhashBands, simhashSubRadius))) {
    val rows = NearDupConfig.probeRowsPerHash(bands, sub)
    require(rows <= NearDupConfig.MaxProbeRowsPerHash,
      s"${name}Bands $bands × ${name}SubRadius $sub expands each hash into $rows probe rows " +
      s"(at most ${NearDupConfig.MaxProbeRowsPerHash})")
  }
}

object NearDupConfig {
  /** Multi-index Hamming's probe rows per hash are built as one array of
    * literal masks a row and exploded: the defaults take 68, one band at
    * subRadius 3 would take 43,745. */
  val MaxProbeRowsPerHash = 4096

  /** bands × Σ_{i ≤ subRadius} C(64/bands, i): one row per band and flip
    * mask of ≤ subRadius bits (`Keys.flipMasks`). */
  def probeRowsPerHash(bands: Int, subRadius: Int): Long = {
    val width = 64 / bands
    // C(w, j+1) = C(w, j)·(w−j)/(j+1): exact at every step
    def choose(i: Int) = (0 until i).foldLeft(1L)((c, j) => c * (width - j) / (j + 1))
    bands * (0 to subRadius).map(choose).sum
  }
}

/** Disposition policy — reference `process_duplicates`
  * (/root/reference/duplicate_files_in_folders/duplicates_finder.py:180-214).
  *
  * The reference's `--keep_structure` flag (utils.py:177-191) only changes
  * how a TARGET PATH STRING is composed from the scan-relative subpath —
  * pure path arithmetic over a filesystem tree. The engine's data model has
  * no path column (image_id is an opaque row identity; same rationale as
  * operator P5 in SURVEY.md §8), so the flag has no semantics here and is
  * deliberately NOT part of the config surface: move/copy targets are ref
  * row identities, and any path layout is the sink's concern. */
final case class ResolveConfig(
    copyToAll: Boolean = false
)

final case class DedupConfig(
    key: KeyConfig = KeyConfig(),
    filter: FilterConfig = FilterConfig(),
    near: NearDupConfig = NearDupConfig(),
    resolve: ResolveConfig = ResolveConfig(),
    enableCaptionLsh: Boolean = true,
    enablePhashHamming: Boolean = true,
    enableContainment: Boolean = true
)
