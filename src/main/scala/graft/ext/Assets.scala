package graft.ext

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder

/** Versioning seam for the STANDING ASSETS (MinHash band index, near-dup
  * cluster map, IVF index, dhash index): each asset is persisted once per
  * (corpus digest, geometry) and probed many times — the build-once/
  * probe-many shape a 100 TB lake actually runs, where re-deriving an
  * index per query would re-scan petabytes.
  *
  * The version key is the q222 lineage digest (order-invariant content
  * hash — partitioning, file order, and shuffle layout cannot change it),
  * folded to ONE long per corpus. It rides in the asset's key-column
  * METADATA (the [[Dedup.buildBandIndex]] geometry discipline — Spark
  * persists field metadata through parquet), so a reloaded asset still
  * carries its provenance and a probe against a STALE asset fails loudly
  * instead of silently answering from last week's corpus — the silent
  * failure mode this seam exists to prevent: a near-dup gate probing a
  * stale index ADMITS every duplicate of a doc that arrived since the
  * index was built.
  *
  * Lake posture (round 19): all path handling goes through the Hadoop
  * `FileSystem` API, so the same protocol works on `hdfs://`/`s3a://`
  * paths (the round-18 `java.io.File` form silently always-rebuilt on an
  * object store — correct answers, defeated seam). Publication is
  * write-to-temp-sibling + atomic rename, and the read side requires the
  * committer's `_SUCCESS` marker: a concurrent driver can never observe a
  * partially written asset whose digest stamp still validates — the race
  * that would silently admit duplicates (Round19OpsSpec races two
  * `ensure` calls on one path).
  *
  * Scale posture: [[textDigest]] is one scan-bound aggregation (per-row
  * fingerprint + map-side-combined sum) — cheap next to an index rebuild
  * (shingle explode + k hashes + shuffle), but still a corpus scan; a
  * production lake computes the digest ONCE when a corpus version lands
  * and serves it from the catalog, so probes pay a metadata lookup, not
  * a scan. [[ensure]] is the cache protocol: content-addressed freshness,
  * rebuild on any mismatch, never a TTL. [[advance]] is the maintenance
  * protocol: when the previous corpus version's asset is on hand, the new
  * version's asset derives from it plus the DELTA — linear in the delta
  * (plus one index-grain rewrite), never a corpus-text rescan or an
  * N·√N re-assignment.
  */
object Assets {
  /** Metadata key carrying the corpus digest an asset was built from. */
  val DigestKey = "corpus_digest"

  /** ONE order-invariant long for a documents corpus: the q222 per-doc
    * terms (non-linear mix of content fingerprint + doc identity — see
    * [[Curation.corpusDigest]] for why the mix must precede the
    * commutative sum) summed across ALL sources mod 2³¹.
    */
  def textDigest(docs: DataFrame): Long =
    Curation.digestTerms(docs)
      .agg(coalesce(pmod(sum(col("term")), lit(1L << 31)), lit(0L)))
      .head().getLong(0)

  /** One standing-asset family at one build geometry: `name` labels it in
    * error messages, `keyCol` is the column whose metadata carries the
    * corpus digest, and `geometry` holds the build parameters — for the
    * MinHash, dHash and cluster-map families the ones a probe or an
    * advance must match (k/bands/n/minJaccard, or the dHash raster's
    * w/h/bands), which their builders stamp next to the digest.
    * Each family is declared once ([[Dedup.bandIndex]],
    * [[Dedup.dhashIndex]], [[Dedup.clusterMap]],
    * [[Similarity.ivfIndex]]); the stamp, the guards and the store path
    * all read it from there.
    */
  final case class Family(name: String, keyCol: String,
                          geometry: Seq[(String, AnyVal)])

  /** Stamp `family`'s build GEOMETRY into its key column's metadata, next
    * to whatever the column already carries. Spark persists field
    * metadata through parquet (the row.metadata footer), so a reloaded
    * asset still names the geometry it was built with. Integral values
    * are stored as longs, fractional ones as doubles.
    */
  private[graft] def withGeometry(asset: DataFrame,
                                  family: Family): DataFrame =
    withMeta(asset, family.keyCol, family.geometry)

  private def withMeta(asset: DataFrame, keyCol: String,
                       entries: Seq[(String, AnyVal)]): DataFrame = {
    val b = new MetadataBuilder().withMetadata(asset.schema(keyCol).metadata)
    for ((name, v) <- entries) stored(v) match {
      case d: Double => b.putDouble(name, d)
      case l: Long => b.putLong(name, l)
    }
    asset.withColumn(keyCol, col(keyCol).as(keyCol, b.build()))
  }

  /** A geometry value as metadata stores it: Double, or widened to Long. */
  private def stored(v: AnyVal): AnyVal = v match {
    case d: Double => d
    case x => x.asInstanceOf[Number].longValue
  }

  /** Fails loudly unless the key column carries every [[withGeometry]]
    * entry of `family`'s geometry with the caller's value — checked in
    * order, before any join runs. Probing (or advancing) an index with
    * other parameters would silently match zero bands, union
    * incomparable signatures, or mix clusterings; ABSENT metadata is an
    * error too (round-17 hardening): a frame whose column metadata was
    * stripped by a select/union transform or a non-Spark writer would
    * otherwise skip the check.
    */
  private[graft] def requireGeometry(asset: DataFrame,
                                     family: Family): Unit = {
    val Family(what, keyCol, geom) = family
    val meta = asset.schema(keyCol).metadata
    for ((name, v) <- geom) {
      require(meta.contains(name),
        s"$what has no '$name' geometry metadata on '$keyCol' — rebuild it " +
          "with its builder (or re-attach the metadata); an unlabeled " +
          "asset cannot be validated")
      val want = stored(v)
      val got = want match {
        case _: Double => meta.getDouble(name)
        case _ => meta.getLong(name)
      }
      require(got == want,
        s"$what was built with $name=$got, the caller has $name=$want — " +
          "rebuild it or match the caller")
    }
  }

  /** Loud id-disjointness guard shared by every advance: an admission
    * delta re-containing an already-indexed id would leave TWO asset rows
    * for one id after the union — a from-scratch build has one, so the
    * advanced asset would silently fork from the rebuild (double-counted
    * candidates, duplicate gate pairs). One broadcast anti-join probe
    * over the asset's id column — index-grain, never corpus text; the
    * advance publish rewrites the asset anyway, so the check does not
    * change the cost class.
    */
  private[graft] def requireDisjointIds(asset: DataFrame, delta: DataFrame,
                                        idCol: String, what: String): Unit = {
    val overlap = asset.select(col(idCol))
      .join(broadcast(delta.select(col(idCol)).distinct()), idCol)
      .limit(1).collect()
    require(overlap.isEmpty,
      s"$what advance: delta re-contains indexed $idCol " +
        s"${overlap.headOption.map(_.getLong(0)).getOrElse(-1L)} — a " +
        "delta must be NEW rows only; rebuild the asset for a corpus " +
        "rewrite")
  }

  /** The advance body of a PER-ROW asset (the MinHash band index, the
    * dHash index): each row is a pure function of one document, so the
    * new version is exactly the old rows plus `build(delta)` — value-
    * identical to a from-scratch build on the grown corpus, at delta
    * cost. Geometry rides from the old asset through the union; a
    * geometry mismatch or an id the asset already holds fails loudly
    * before any union.
    */
  private[graft] def advanceRows(asset: DataFrame, delta: DataFrame,
                                 family: Family)
                                (build: DataFrame => DataFrame): DataFrame = {
    requireGeometry(asset, family)
    requireDisjointIds(asset, delta, "doc_id", family.name)
    asset.unionByName(build(delta))
  }

  /** Loud freshness gate: the asset must carry [[DigestKey]] metadata
    * (absent = unverifiable = error, the round-17 geometry discipline)
    * and it must equal the corpus digest the caller holds.
    */
  def requireFresh(asset: DataFrame, family: Family, digest: Long)
      : DataFrame = {
    val keyCol = family.keyCol
    val meta = asset.schema(keyCol).metadata
    require(meta.contains(DigestKey),
      s"${family.name} column '$keyCol' carries no '$DigestKey' metadata — " +
        "build it through Assets.ensure/Assets.advance; an unstamped " +
        "asset cannot be validated against the corpus")
    require(meta.getLong(DigestKey) == digest,
      s"STALE asset: built at $DigestKey=${meta.getLong(DigestKey)}, the " +
        s"corpus is now at $digest — rebuild the asset (Assets.ensure " +
        "rebuilds on mismatch automatically)")
    asset
  }

  private def fsOf(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(
      spark.sessionState.newHadoopConf())

  /** A published, digest-valid asset at `path`, or None. EVERY failure
    * mode — missing path, missing `_SUCCESS` (a write in flight or a
    * kill mid-commit), unreadable parquet, missing key column, missing
    * or mismatched digest stamp — is a cache miss, never an error: the
    * round-18 form evaluated `df.schema(keyCol)` outside its Try, so a
    * cached asset whose builder output schema changed under an unchanged
    * (digest, tag) key THREW instead of rebuilding, contradicting the
    * documented contract.
    */
  private def readValid(spark: SparkSession, path: String, family: Family,
                        digest: Long): Option[DataFrame] =
    scala.util.Try {
      val fs = fsOf(spark, path)
      if (!fs.exists(new Path(path, "_SUCCESS"))) None
      else {
        val df = graft.Tables.parquet(spark, Seq(path))
        val m = df.schema(family.keyCol).metadata
        if (m.contains(DigestKey) && m.getLong(DigestKey) == digest)
          Some(df)
        else None
      }
    }.toOption.flatten

  /** Publish `asset` at `path` ATOMICALLY: write to a unique temp
    * sibling (Spark's committer leaves `_SUCCESS` there on success),
    * then rename into place via `FileContext.rename(…, Rename.NONE)` —
    * the Hadoop call that FAILS when the destination exists. (Plain
    * `FileSystem.rename` would silently move the temp INSIDE an
    * existing destination directory — nesting the new asset under a
    * stale one.) When two drivers race, exactly one rename wins; the
    * loser discards its temp and serves the winner's (digest-identical)
    * asset. No reader can observe a partial write: the destination
    * appears only by rename, already complete and `_SUCCESS`-marked.
    */
  private def publish(spark: SparkSession, path: String, family: Family,
                      digest: Long, asset: DataFrame): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val dest = new Path(path)
    val fs = dest.getFileSystem(conf)
    def writeTmp(): Path = {
      val t = new Path(path + "._tmp-" + java.util.UUID.randomUUID())
      withMeta(asset, family.keyCol, Seq(DigestKey -> digest))
        .write.parquet(t.toString)
      t
    }
    def place(t: Path): Boolean = {
      fs.mkdirs(dest.getParent)
      val fc = org.apache.hadoop.fs.FileContext
        .getFileContext(dest.toUri, conf)
      try { fc.rename(t, dest, org.apache.hadoop.fs.Options.Rename.NONE)
            true }
      catch { case _: java.io.IOException => fs.delete(t, true); false }
    }
    if (!place(writeTmp())) {
      // lost the race (or a stale/junk asset occupies the path): if what
      // is there now validates, serve it; otherwise clear it and retry
      // once — a second failure is a genuine FS error, surface it
      if (readValid(spark, path, family, digest).isEmpty) {
        fs.delete(dest, true)
        require(place(writeTmp()) ||
            readValid(spark, path, family, digest).nonEmpty,
          s"Assets.publish: cannot place asset at $path")
      }
    }
    graft.Tables.parquet(spark, Seq(path))
  }

  /** Build-once/probe-many: if the store holds a PUBLISHED `family`
    * asset named `name` and stamped with `digest`, read it back (zero
    * build work — this is where the suite's per-query rebuild constant
    * goes away); on a missing, in-flight, unreadable, unstamped,
    * schema-drifted, or stale asset, run `build`, stamp, publish
    * atomically, and serve the REREAD frame (so first call and every
    * later call return the byte-identical parquet-backed plan).
    * Content-addressed freshness: geometry mismatches are caught by the
    * probes' existing metadata guards, digest mismatches here.
    */
  def ensure(spark: SparkSession, name: String, family: Family,
             digest: Long)(build: => DataFrame): DataFrame = {
    val at = path(name, family, digest)
    readValid(spark, at, family, digest).getOrElse(
      publish(spark, at, family, digest, build))
  }

  /** Incremental asset maintenance — the round-19 protocol. A corpus
    * moved `oldDigest` → `newDigest` by APPENDING a delta (the admission
    * pipeline's only mutation); the new version's asset should derive
    * from the standing one plus the delta, not from a full rebuild:
    * at 100 TB, [[ensure]]'s rebuild-on-any-mismatch means one new
    * document costs a full shingle pass or an N·√N IVF re-assignment —
    * the exact cost the standing-asset seam exists to avoid.
    *
    * Resolution order (both versions are `family` assets named `name`):
    *   1. a published `newDigest` asset → serve it (probe-many; advance
    *      already ran);
    *   2. a published `oldDigest` asset → publish `advanceFrom(old)`
    *      stamped `newDigest` — cost linear in the delta plus one
    *      index-grain rewrite, flat in the corpus TEXT (the per-family
    *      advance functions never touch it);
    *   3. otherwise → `fullBuild` (first landing, or the old asset is
    *      itself missing/stale — advancing from an unverified base would
    *      silently drop every doc the base missed).
    *
    * The advanced asset must be VALUE-IDENTICAL to the from-scratch
    * build on the grown corpus — advance is an optimization, never a
    * semantic fork (the per-family builders guarantee it; Round19OpsSpec
    * and the q276–q279 oracles hold them to from-scratch hashes). The
    * IVF family is the documented exception: a from-scratch build would
    * RESAMPLE centroids, so [[Similarity.advanceIvfIndex]] keeps the old
    * geometry under a drift guard and its query is oracled independently.
    */
  def advance(spark: SparkSession, name: String, family: Family,
              oldDigest: Long, newDigest: Long)
             (advanceFrom: DataFrame => DataFrame)
             (fullBuild: => DataFrame): DataFrame = {
    val at = path(name, family, newDigest)
    readValid(spark, at, family, newDigest).getOrElse {
      val built = readValid(spark, path(name, family, oldDigest), family,
        oldDigest).map(advanceFrom).getOrElse(fullBuild)
      publish(spark, at, family, newDigest, built)
    }
  }

  /** Deterministic content-addressed store path of asset `name` of
    * `family` built from corpus `digest`, under the JVM temp dir. The
    * name keeps two callers' assets apart even when their corpus,
    * digest and geometry agree; the digest keeps corpora (and SF dirs)
    * apart; the key column and the geometry (as a tag, e.g.
    * `k16-bands4-n3`) key the family and its build parameters. The `v2`
    * namespace component is the asset FORMAT version (round 19:
    * `_SUCCESS`-gated atomic publication; also isolates any builder
    * output-schema change from pre-v2 cached assets — the ADVICE
    * schema-drift hazard).
    */
  def path(name: String, family: Family, digest: Long): String = {
    val tag =
      family.geometry.map { case (k, v) => s"$k${stored(v)}" }.mkString("-")
    new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-assets/v2/${name}_${family.keyCol}_${digest}_$tag").getPath
  }
}
