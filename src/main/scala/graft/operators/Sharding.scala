package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Training-shard export — the last stage of the corpus pipeline
  * (dedupe → clean → SHARD → train): deterministic, engine-portable
  * shard assignment plus a partitioned writer.
  *
  * Assignment hashes the content key with md5 (the one hash every engine
  * computes bit-identically) so shard membership is reproducible by any
  * downstream system — a re-run, a different engine, or the trainer
  * itself can re-derive which shard a document belongs to without a
  * lookup table. Content-keyed shards are also stable under corpus
  * re-ordering and incremental additions, unlike round-robin or
  * monotonically_increasing_id schemes.
  *
  * Scale: assignment is a per-row expression (no shuffle); the writer
  * shuffles ONCE on the shard id — each of the `nShards` output dirs is
  * written by the tasks holding its rows, and file counts per shard are
  * controlled by the repartition width, not the input layout.
  */
object Sharding {

  /** Shard id in [0, nShards): first 8 md5 hex digits as an integer,
    * mod nShards. */
  def shardId(key: Column, nShards: Int): Column =
    (conv(substring(md5(key), 1, 8), 16, 10).cast("long") % nShards).cast("int")

  /** WebDataset-style TAR shard packing — the distribution layer for
    * multimodal training data: each shard's (member id, payload blob)
    * rows become ONE deterministic USTAR archive
    * ([[graft.codec.TarCodec]]: no compression, zero mtimes, so shard
    * bytes are a pure function of the members — oracle-safe, unlike
    * deflate), members named `<id zero-padded to 12>.bin` and ordered
    * by id inside the archive. One shuffle on the shard id; per-group
    * state is one shard's members (bounded by the caller's shard
    * sizing), assembled in a single typed mapGroups. Output: (shard,
    * tar, n_members, n_tar_bytes). */
  def packTarShards(df: DataFrame, shardCol: String, idCol: String,
                    blobCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(shardCol).cast("int"), col(idCol).cast("long"), col(blobCol))
      .as[(Int, Long, Array[Byte])]
      .groupByKey(_._1)
      .mapGroups { (shard, it) =>
        val members = it.map { case (_, id, b) => (id, b) }.toSeq.sortBy(_._1)
          .map { case (id, b) => (f"$id%012d.bin", b) }
        val tar = graft.codec.TarCodec.write(members)
        (shard, tar, members.size.toLong, tar.length.toLong)
      }
      .toDF("shard", "tar", "n_members", "n_tar_bytes")
  }

  /** The inverse: explode tar shards back to (shard, member_id, blob)
    * rows — the trainer-side read path, and the round-trip proof the
    * packing queries hash-check. Unparseable archives and members whose
    * names do not follow the packer's `<id>.bin` convention are
    * dropped. */
  def readTarMembers(df: DataFrame, shardCol: String, tarCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(shardCol).cast("int"), col(tarCol))
      .as[(Int, Array[Byte])]
      .flatMap { case (shard, tar) =>
        graft.codec.TarCodec.parse(tar).getOrElse(Seq.empty).flatMap {
          case (name, payload) if name.endsWith(".bin") =>
            name.stripSuffix(".bin").toLongOption.map(id => (shard, id, payload))
          case _ => None
        }
      }
      .toDF("shard", "member_id", "blob")
  }

  /** WARC shard packing — the container web corpora ARRIVE in (and the
    * form a crawl-exchange layer ships them back out in): each shard's
    * (member id, target URI, payload) rows become ONE deterministic
    * WARC/1.0 file ([[graft.codec.WarcCodec]]: fixed header order,
    * epoch `WARC-Date`, no compression — bytes are a pure function of
    * the records, oracle-safe like tar), records ordered by id with
    * `WARC-Record-ID <urn:graft:<id zero-padded to 12>>`. One shuffle
    * on the shard id; per-group state is one shard's records. Output:
    * (shard, warc, n_records, n_warc_bytes). */
  def packWarcShards(df: DataFrame, shardCol: String, idCol: String,
                     uriCol: String, blobCol: String,
                     warcType: String = "response",
                     contentType: String = "text/html"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(shardCol).cast("int"), col(idCol).cast("long"),
        col(uriCol).cast("string"), col(blobCol))
      .as[(Int, Long, String, Array[Byte])]
      .groupByKey(_._1)
      .mapGroups { (shard, it) =>
        val recs = it.map { case (_, id, uri, b) => (id, uri, b) }.toSeq.sortBy(_._1)
          .map { case (id, uri, b) =>
            graft.codec.WarcRecord(warcType, f"urn:graft:$id%012d",
              Option(uri), contentType, b)
          }
        val warc = graft.codec.WarcCodec.write(recs)
        (shard, warc, recs.size.toLong, warc.length.toLong)
      }
      .toDF("shard", "warc", "n_records", "n_warc_bytes")
  }

  /** [[packWarcShards]] with REVISIT deduplication — how production
    * crawl archives avoid storing the same bytes twice (ISO 28500
    * `revisit` records, identical-payload-digest profile): the FIRST
    * fetch of each distinct payload (min arrival id, global across
    * shards) packs as a full `response` record; every later fetch
    * packs as a payload-less `revisit` record carrying
    * `WARC-Refers-To` (the original record), `WARC-Payload-Digest`,
    * and the public profile URI — a reader can reconstruct the page
    * from the referenced record, and the archive sheds the duplicate
    * mass (the returned `n_saved_bytes` column). Shapes at scale: one
    * groupBy on the digest (the exact-dedup shuffle class — partial
    * aggs, no window), one shuffle join back on the digest, then the
    * per-shard pack; the join is big-big by design (digests are
    * corpus-sized), the sort-merge floor of content-addressed
    * identity. */
  def packWarcRevisitShards(df: DataFrame, shardCol: String, idCol: String,
                            uriCol: String, blobCol: String,
                            contentType: String = "text/html"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val withDigest = df.select(col(shardCol).cast("int").as("shard"),
      col(idCol).cast("long").as("id"), col(uriCol).cast("string").as("uri"),
      col(blobCol).as("blob"), md5(col(blobCol)).as("digest"))
    val firsts = withDigest.groupBy("digest").agg(min("id").as("orig_id"))
    withDigest.join(firsts, Seq("digest"))
      .select(col("shard"), col("id"), col("uri"), col("blob"),
        col("digest"), col("orig_id"))
      .as[(Int, Long, String, Array[Byte], String, Long)]
      .groupByKey(_._1)
      .mapGroups { (shard, it) =>
        var nResp = 0L; var nRev = 0L; var saved = 0L
        val recs = it.map { case (_, id, uri, b, dig, orig) => (id, uri, b, dig, orig) }
          .toSeq.sortBy(_._1)
          .map { case (id, uri, b, dig, orig) =>
            if (id == orig) {
              nResp += 1
              graft.codec.WarcRecord("response", f"urn:graft:$id%012d",
                Option(uri), contentType, b)
            } else {
              nRev += 1; saved += b.length
              graft.codec.WarcRecord("revisit", f"urn:graft:$id%012d",
                Option(uri), contentType, Array.emptyByteArray, Seq(
                  "WARC-Refers-To" -> f"<urn:graft:$orig%012d>",
                  "WARC-Payload-Digest" -> s"md5:$dig",
                  "WARC-Profile" ->
                    "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest"))
            }
          }
        val warc = graft.codec.WarcCodec.write(recs)
        (shard, warc, recs.size.toLong, nResp, nRev, warc.length.toLong, saved)
      }
      .toDF("shard", "warc", "n_records", "n_response", "n_revisit",
        "n_warc_bytes", "n_saved_bytes")
  }

  /** The inverse: explode WARC shards back to (shard, member_id,
    * target_uri, payload) rows — the extraction-side read path.
    * Unparseable files and records whose ids do not follow the packer's
    * `urn:graft:<id>` convention are dropped. */
  def readWarcRecords(df: DataFrame, shardCol: String, warcCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(shardCol).cast("int"), col(warcCol))
      .as[(Int, Array[Byte])]
      .flatMap { case (shard, warc) =>
        graft.codec.WarcCodec.parse(warc).getOrElse(Seq.empty).flatMap { r =>
          if (r.recordId.startsWith("urn:graft:"))
            r.recordId.stripPrefix("urn:graft:").toLongOption
              .map(id => (shard, id, r.targetUri.orNull, r.payload))
          else None
        }
      }
      .toDF("shard", "member_id", "target_uri", "blob")
  }

  /** [[packWarcShards]] with PER-RECORD type and content-type columns —
    * the shape a deduplicating crawl writer needs: `response` records
    * (full payload) and `revisit` records (empty payload, pointing at
    * an earlier identical capture) interleave in one archive, in member
    * order. Same single shuffle on the shard id. */
  def packWarcShardsMixed(df: DataFrame, shardCol: String, idCol: String,
                          uriCol: String, blobCol: String,
                          typeCol: String, ctypeCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(shardCol).cast("int"), col(idCol).cast("long"),
        col(uriCol).cast("string"), col(blobCol),
        col(typeCol).cast("string"), col(ctypeCol).cast("string"))
      .as[(Int, Long, String, Array[Byte], String, String)]
      .groupByKey(_._1)
      .mapGroups { (shard, it) =>
        val recs = it.map { case (_, id, uri, b, t, ct) => (id, uri, b, t, ct) }
          .toSeq.sortBy(_._1)
          .map { case (id, uri, b, t, ct) =>
            graft.codec.WarcRecord(t, f"urn:graft:$id%012d", Option(uri), ct, b)
          }
        val warc = graft.codec.WarcCodec.write(recs)
        (shard, warc, recs.size.toLong, warc.length.toLong)
      }
      .toDF("shard", "warc", "n_records", "n_warc_bytes")
  }

  /** CDX-style lookup index over WARC shards: one row per record with
    * its byte position — `(shard, member_id, target_uri, offset,
    * rec_len, digest)` — the structure that turns a multi-GB archive
    * into a randomly-addressable store (fetch ONE record by ranged read
    * at `offset..offset+rec_len`). The payload MD5 rides along as the
    * revisit-dedup key and is computed HERE, executor-side, so the
    * index frame never carries payload bytes — at 100 TB the archives
    * stay in place and only the bytes-per-record index rows shuffle.
    * Sort the result by a SURT key ([[TextOps.urlSurt]]) to get the
    * prefix-scannable CDX ordering. */
  def warcIndex(df: DataFrame, shardCol: String, warcCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(shardCol).cast("int"), col(warcCol))
      .as[(Int, Array[Byte])]
      .flatMap { case (shard, warc) =>
        val md = java.security.MessageDigest.getInstance("MD5")
        graft.codec.WarcCodec.parseIndexed(warc).getOrElse(Seq.empty).flatMap {
          case (r, off, len) =>
            if (r.recordId.startsWith("urn:graft:"))
              r.recordId.stripPrefix("urn:graft:").toLongOption.map { id =>
                md.reset()
                val digest = md.digest(r.payload).map(b => f"$b%02x").mkString
                (shard, id, r.targetUri.orNull, r.warcType, off, len, digest)
              }
            else None
        }
      }
      .toDF("shard", "member_id", "target_uri", "warc_type", "offset", "rec_len", "digest")
  }

  /** `.warc.gz` shard packing — the form crawl archives actually ship:
    * each record serializes alone ([[graft.codec.WarcCodec]]) and
    * gzips as its OWN member ([[graft.codec.GzipCodec]]), members
    * concatenated, so compressed (offset, length) pairs still address
    * single records. Same single shuffle on the shard id. Compressed
    * bytes are NOT oracle-safe (deflate is a zlib implementation
    * detail) — queries pin the DECODED content the reader recovers. */
  def packWarcGzShards(df: DataFrame, shardCol: String, idCol: String,
                       uriCol: String, blobCol: String,
                       warcType: String = "response",
                       contentType: String = "text/html"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(shardCol).cast("int"), col(idCol).cast("long"),
        col(uriCol).cast("string"), col(blobCol))
      .as[(Int, Long, String, Array[Byte])]
      .groupByKey(_._1)
      .mapGroups { (shard, it) =>
        val out = new java.io.ByteArrayOutputStream()
        var n = 0L
        it.toSeq.sortBy(_._2).foreach { case (_, id, uri, b) =>
          val rec = graft.codec.WarcCodec.write(Seq(graft.codec.WarcRecord(
            warcType, f"urn:graft:$id%012d", Option(uri), contentType, b)))
          val gz = graft.codec.GzipCodec.gzipMember(rec)
          out.write(gz, 0, gz.length)
          n += 1
        }
        val bytes = out.toByteArray
        (shard, bytes, n, bytes.length.toLong)
      }
      .toDF("shard", "warcgz", "n_records", "n_gz_bytes")
  }

  /** The inverse: walk each shard's gzip members, inflate, parse each
    * as a single-record WARC file — `(shard, member_id, target_uri,
    * rec_len, blob)` where `rec_len` is the DECOMPRESSED record length
    * (deterministic, unlike the compressed member size). Unparseable
    * members and foreign record ids are dropped. */
  def readWarcGzRecords(df: DataFrame, shardCol: String, warcGzCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(shardCol).cast("int"), col(warcGzCol))
      .as[(Int, Array[Byte])]
      .flatMap { case (shard, gz) =>
        graft.codec.GzipCodec.gunzipAll(gz).getOrElse(Seq.empty).flatMap {
          case (rec, _, _) =>
            graft.codec.WarcCodec.parse(rec).getOrElse(Seq.empty).flatMap { r =>
              if (r.recordId.startsWith("urn:graft:"))
                r.recordId.stripPrefix("urn:graft:").toLongOption
                  .map(id => (shard, id, r.targetUri.orNull, rec.length.toLong, r.payload))
              else None
            }
        }
      }
      .toDF("shard", "member_id", "target_uri", "rec_len", "blob")
  }

  /** ZIP shard packing — the third container beside tar and WARC:
    * STORED entries with zeroed DOS times ([[graft.codec.ZipCodec]]),
    * so archive bytes are a pure function of the members and every size
    * is oracle arithmetic (30+46+2·nameLen+payload per member, +22).
    * Same shuffle shape as [[packTarShards]]; members named
    * `<id zero-padded to 12>.bin`, id-ordered. Output: (shard, zip,
    * n_members, n_zip_bytes). */
  def packZipShards(df: DataFrame, shardCol: String, idCol: String,
                    blobCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(shardCol).cast("int"), col(idCol).cast("long"), col(blobCol))
      .as[(Int, Long, Array[Byte])]
      .groupByKey(_._1)
      .mapGroups { (shard, it) =>
        val members = it.map { case (_, id, b) => (id, b) }.toSeq.sortBy(_._1)
          .map { case (id, b) => (f"$id%012d.bin", b) }
        val zip = graft.codec.ZipCodec.write(members)
        (shard, zip, members.size.toLong, zip.length.toLong)
      }
      .toDF("shard", "zip", "n_members", "n_zip_bytes")
  }

  /** The inverse: explode zip shards back to (shard, member_id, blob)
    * rows; the parser also reads DEFLATE entries, so foreign archives
    * arrive through the same path. Unparseable archives and members
    * outside the packer's `<id>.bin` convention are dropped. */
  def readZipMembers(df: DataFrame, shardCol: String, zipCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(shardCol).cast("int"), col(zipCol))
      .as[(Int, Array[Byte])]
      .flatMap { case (shard, zip) =>
        graft.codec.ZipCodec.parse(zip).getOrElse(Seq.empty).flatMap {
          case (name, payload) if name.endsWith(".bin") =>
            name.stripSuffix(".bin").toLongOption.map(id => (shard, id, payload))
          case _ => None
        }
      }
      .toDF("shard", "member_id", "blob")
  }

  /** Deterministic per-epoch shuffle key: md5 over (seed, key). A pure
    * function of its inputs — the same (seed, key) orders identically on
    * any engine, any run; a new seed is a fresh epoch-wide permutation. */
  def shuffleKey(key: Column, seed: String): Column =
    md5(concat_ws(":", lit(seed), key.cast("string")))

  /** Deterministic GLOBAL training order: assign every row its exact
    * position 0..n-1 in the epoch's shuffled order (sort by
    * [[shuffleKey]], key as tiebreak) — reproducible across runs and
    * engines, resumable mid-epoch (skip rows with pos < checkpoint),
    * re-permuted per epoch by the seed.
    *
    * The positions are computed WITHOUT a global window (a partition-less
    * `row_number()` is ONE task over the whole corpus — the hot-gram
    * failure mode in its purest form): rows hash-bucket by the first
    * shuffle-key byte, per-bucket counts cumsum on the driver
    * (`buckets` rows — a centroid-sized side), and each row's position
    * is its bucket's offset plus its rank WITHIN the bucket. Bucket
    * ranks are windows partitioned by bucket: md5 is uniform, so every
    * task holds ~n/`buckets` rows regardless of data skew — at 100 TB
    * raise `buckets` (the hex prefix) to keep per-task sorts in memory.
    * Total order equals the naive global sort exactly: bucket id is the
    * shuffle key's leading byte, so inter-bucket order IS key order. */
  def epochOrder(df: DataFrame, keyCol: String, seed: String,
                 buckets: Int = 256): DataFrame = {
    require(buckets >= 1 && buckets <= 256, s"buckets must be in [1,256], got $buckets")
    val keyed = df
      .withColumn("_sk", shuffleKey(col(keyCol), seed))
      .withColumn("_b", // contiguous byte ranges: inter-bucket order IS key order
        ((conv(substring(col("_sk"), 1, 2), 16, 10).cast("int") * lit(buckets)) / lit(256))
          .cast("int"))
    val counts = keyed.groupBy("_b").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = counts.scanLeft(0 -> 0L) { case ((_, acc), (b, c)) => b -> (acc + c) }
      .init.zip(counts).map { case ((_, off), (b, _)) => b -> off }.toMap
    val w = org.apache.spark.sql.expressions.Window.partitionBy("_b").orderBy("_sk", keyCol)
    keyed
      .withColumn("pos",
        element_at(typedLit(offsets), col("_b")) +
          row_number().over(w).cast("long") - 1L)
      .drop("_b")
  }

  /** Assignment projection: the input plus a `shard` column. */
  def assign(df: DataFrame, keyCol: String, nShards: Int): DataFrame =
    df.withColumn("shard", shardId(col(keyCol), nShards))

  /** Deterministic content-hash sampling: keep a row iff its key's
    * md5-fold lands under `permille`/1000 — the reproducible Bernoulli
    * sample every training-mix pipeline needs (re-runs, other engines,
    * and the trainer all re-derive membership; no RNG state, no seed
    * drift, stable under corpus re-ordering). Integer threshold on a
    * 1000-bucket fold so the predicate is hash-exact across engines.
    * Per-row expression — no shuffle, composes into any scan. */
  def hashBucket1000(key: Column): Column =
    (conv(substring(md5(key), 1, 8), 16, 10).cast("long") % 1000).cast("int")

  def sampleByHash(df: DataFrame, keyCol: String, permille: Int): DataFrame =
    df.filter(hashBucket1000(col(keyCol)) < permille)

  /** Deterministic, disjoint train/val/test split on the content key's
    * 1000-bucket fold: buckets [0, train) → "train",
    * [train, train+val) → "val", the rest → "test". Same reproducibility
    * contract as [[sampleByHash]] — membership is derivable by any
    * engine from the key alone, stable under re-ordering and re-runs,
    * and rows can never leak between splits (one fold, three disjoint
    * ranges). Per-row projection, no shuffle. */
  def splitByHash(df: DataFrame, keyCol: String,
                  trainPermille: Int = 900, valPermille: Int = 50,
                  outCol: String = "split"): DataFrame = {
    require(trainPermille >= 0 && valPermille >= 0 &&
      trainPermille + valPermille <= 1000, "permilles must fit in [0, 1000]")
    require(!df.columns.contains(outCol),
      s"output column '$outCol' already exists; pass outCol to pick another name")
    val bkt = hashBucket1000(col(keyCol))
    df.withColumn(outCol,
      when(bkt < trainPermille, "train")
        .when(bkt < trainPermille + valPermille, "val")
        .otherwise("test"))
  }

  /** Leakage-safe train/val/test split: hash the near-dup CLUSTER id,
    * not the doc id, so a family of near-duplicates can never straddle
    * the train/eval boundary — [[splitByHash]] on raw ids leaks
    * paraphrases of training docs into eval (the within-corpus sibling
    * of benchmark decontamination). `clusters` is
    * [[Dedup.duplicateClusters]] output `(doc, cluster)`; docs absent
    * from it are singletons and key on their own id, so the split is
    * identical to [[splitByHash]] wherever no duplicate exists.
    * Adds `cluster_key` + `outCol`.
    *
    * Scale shape: one left join on the doc id (clusters ≤ corpus rows,
    * usually ≪) then a per-row projection — no extra shuffle beyond
    * the join; at 100 TB bucket both sides on the id to co-locate it. */
  def splitLeakageSafe(df: DataFrame, idCol: String, clusters: DataFrame,
                       trainPermille: Int = 900, valPermille: Int = 50,
                       outCol: String = "split"): DataFrame = {
    val ck = df
      .join(clusters.select(col("doc").as(idCol), col("cluster")), Seq(idCol), "left_outer")
      .withColumn("cluster_key", coalesce(col("cluster"), col(idCol)).cast("string"))
      .drop("cluster")
    splitByHash(ck, "cluster_key", trainPermille, valPermille, outCol)
  }

  /** Deterministic bounded sample PER GROUP — "keep at most `n` docs of
    * every source", the fixed-budget cousin of the rate-based
    * [[sampleStratified]]: membership is the first `n` keys of each
    * group in md5 order, so any engine reproduces the exact sample and
    * re-runs are stable under row reordering. The top-n dies in the
    * bounded-collect aggregate (O(n) state, map-side partials) — no
    * per-group window sort, so one dominant group costs O(n) per
    * partition rather than a full-group sort, the difference at 100 TB
    * between a heap and a straggler. */
  def samplePerGroup(df: DataFrame, groupCol: String, keyCol: String, n: Int): DataFrame = {
    require(n > 0, "need a positive per-group budget")
    df.select(col(groupCol), col(keyCol),
        md5(col(keyCol).cast("string")).as("_h"))
      .groupBy(groupCol)
      .agg(graft.expressions.BoundedCollect
        .boundedSortedCollect(struct(col("_h"), col(keyCol)), n).as("_top"))
      .select(col(groupCol), explode(col("_top")).as("_t"))
      .select(col(groupCol), col(s"_t.$keyCol").as(keyCol))
  }

  /** [[samplePerGroup]] carrying small payload columns THROUGH the heap,
    * for callers that would otherwise semi-join the sampled keys back to
    * the input to recover them. The join-back form evaluates the input
    * pipeline TWICE — column pruning narrows the key-only branch, the
    * two aggregate subtrees stop being identical, and exchange reuse
    * never fires — so a capstone paying a full extraction funnel on
    * each side costs 2× (caught by plan audit: two `Scan parquet` +
    * two aggregate chains under one semi join). Here the payload rides
    * the heap entry instead: one funnel, one partial-agg shuffle, no
    * join. Selection is UNCHANGED — the heap orders by the struct
    * lexicographically and `(md5(key), key)` is unique, so fields after
    * the key never influence which rows survive — PROVIDED keys are
    * distinct per group: duplicate `(group, key)` rows with different
    * payloads tie through the key and fall to payload comparison, so
    * which duplicate's payload survives is payload-ordered (still
    * deterministic, and the selected key multiset still matches
    * [[samplePerGroup]]); dedup on `(group, key)` upstream when
    * duplicates are possible. Payload discipline:
    * small fixed-width columns only (counts, ids) — each group holds
    * `n` full entries in executor memory at every partial-agg stage;
    * for fat payloads (text, arrays) keep the semi-join form. */
  def samplePerGroupRows(df: DataFrame, groupCol: String, keyCol: String,
                         n: Int, payload: Seq[String]): DataFrame = {
    require(n > 0, "need a positive per-group budget")
    val fields = (keyCol +: payload).map(col)
    df.select(col(groupCol) +: md5(col(keyCol).cast("string")).as("_h") +: fields: _*)
      .groupBy(groupCol)
      .agg(graft.expressions.BoundedCollect
        .boundedSortedCollect(struct(col("_h") +: fields: _*), n).as("_top"))
      .select(col(groupCol), explode(col("_top")).as("_t"))
      .select(col(groupCol) +: (keyCol +: payload).map(c => col(s"_t.$c").as(c)): _*)
  }

  /** Per-group score threshold at the (1 − frac) quantile — the
    * calibration half of "keep the top `frac` of each group by score"
    * (per-language quality gating, the filter stage after a classifier
    * scores the corpus). Exact `percentile` by default (linear
    * interpolation ≡ DuckDB `quantile_cont`, the oracle-parity form);
    * `approx = true` switches to `approx_percentile`, whose sketch
    * buffer is O(sketch) per group where exact percentile materializes
    * EVERY group value — the same billion-row-group hazard documented
    * on corpus_length_percentiles, so approx is the 100 TB path (and is
    * rows-only vs an oracle: sketches are engine-specific). Output is
    * one row per group — broadcast-sized by construction. */
  def topFractionThresholds(df: DataFrame, groupCol: String, scoreCol: String,
                            frac: Double, approx: Boolean = false): DataFrame = {
    require(frac > 0.0 && frac <= 1.0, "frac must be in (0, 1]")
    val q = 1.0 - frac
    val thr =
      if (approx) expr(s"approx_percentile($scoreCol, $q, 10000)").cast("double")
      else expr(s"percentile($scoreCol, $q)")
    df.groupBy(groupCol).agg(thr.as("thr"))
  }

  /** The gate itself: rows with score ≥ their group's
    * [[topFractionThresholds]] cutoff. The threshold frame broadcasts
    * back, so the corpus is filtered MAP-SIDE — no rank window over the
    * group (a per-group top-⌈frac·n⌉ window puts a whole group in one
    * task AND its cut is O(group), the hot-key shape this operator
    * exists to avoid; a threshold is O(1) per row at any group size). */
  def keepTopFraction(df: DataFrame, groupCol: String, scoreCol: String,
                      frac: Double, approx: Boolean = false): DataFrame =
    df.join(
        broadcast(topFractionThresholds(df, groupCol, scoreCol, frac, approx)
          .withColumnRenamed("thr", "_thr")),
        Seq(groupCol))
      .filter(col(scoreCol) >= col("_thr")).drop("_thr")

  /** Token-budget corpus assembly — the data-recipe primitive: per
    * source, keep the best-scoring docs until the source's token budget
    * is filled. Admission is SCORE-GROUP-ATOMIC and a cumulative
    * PREFIX: whole (source, score) groups are admitted in
    * score-descending order while their cumulative token mass fits the
    * budget; the first group that would overflow is rejected entirely,
    * AND so is everything below it — the cumsum only grows, so no
    * lower-scored group re-qualifies (not greedy-skip; fuzz-pinned
    * against a brute-force reference). Group-atomic is what keeps the
    * operator hot-key-free — partial admission inside the boundary
    * group needs a doc-level cumsum over that group, i.e. a window
    * whose partition is unbounded. Contract: `scoreCol` must be
    * discrete/bucketized (quality permille, length bucket); bucketize a
    * continuous score first, which also makes "budget granularity" an
    * explicit knob. Sources missing from `budgets` get `defaultBudget`.
    *
    * Scale shape: one partial-agg groupBy to (source, score) token
    * sums; the cumulative sum runs over THAT aggregate (rows = score
    * cardinality per source, the vocabGrowth posture, never corpus
    * rows); the admitted (source, score) pairs broadcast back and the
    * corpus is filtered map-side. */
  def fillTokenBudget(df: DataFrame, sourceCol: String, scoreCol: String,
                      tokensCol: String, budgets: Map[String, Long],
                      defaultBudget: Long = 0L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(sourceCol).orderBy(desc(scoreCol))
    val budgetCol = budgets.foldLeft(lit(defaultBudget)) { case (acc, (s, b)) =>
      when(col(sourceCol) === s, lit(b)).otherwise(acc)
    }
    val admitted = df.groupBy(sourceCol, scoreCol)
      .agg(sum(col(tokensCol)).as("_gt"))
      .withColumn("_cum", sum("_gt").over(w))
      .filter(col("_cum") <= budgetCol)
      .select(col(sourceCol), col(scoreCol))
    df.join(broadcast(admitted), Seq(sourceCol, scoreCol))
  }

  /** Mixture-design SOLVER — turns a target mix (integer permille per
    * source) plus a global token budget into the per-source plan the
    * sampling/budget operators consume: `(source, n_docs, avail_tokens,
    * target_permille, want_tokens, take_tokens, rate, deficit)`. A
    * data recipe ("15% of each curated source, the rest spread over
    * web") meets reality here: `want = budget·permille div 1000` is the
    * recipe's ask, `take = min(avail, want)` is what the corpus can
    * give, `deficit` marks sources whose ask exceeds supply (the signal
    * to re-weight or upsample), and `rate` is the keep-fraction to feed
    * [[sampleStratified]] (as permille) or [[fillTokenBudget]] (as a
    * per-source budget). All sizing is exact long arithmetic — permille
    * weights and integer division, ONE closing division for the rate
    * (the permille doctrine) — so the plan is engine-reproducible.
    *
    * Scale shape: one partial-agg groupBy over the corpus to per-source
    * token mass (sources are few — the output is driver-size), the
    * weight table broadcasts, everything after the agg is per-row
    * arithmetic on tens of rows. */
  def mixtureSolver(df: DataFrame, sourceCol: String, textCol: String,
                    targetPermille: Map[String, Long],
                    budgetTokens: Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val weights = targetPermille.toSeq.toDF("_src", "_tp")
    val avail = df.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(TextOps.tokens(col(textCol)))).cast("long").as("avail_tokens"))
    avail.join(broadcast(weights), col("source") === col("_src"), "left_outer")
      .select(col("source"), col("n_docs"), col("avail_tokens"),
        coalesce(col("_tp"), lit(0L)).as("target_permille"))
      .withColumn("want_tokens",
        expr(s"CAST($budgetTokens * target_permille div 1000 AS BIGINT)"))
      .withColumn("take_tokens", least(col("avail_tokens"), col("want_tokens")))
      .withColumn("rate",
        round(col("take_tokens").cast("double") /
          when(col("avail_tokens") === 0, lit(null)).otherwise(col("avail_tokens")), 4))
      .withColumn("deficit", col("want_tokens") > col("avail_tokens"))
  }

  /** Stratified variant: per-stratum keep-rates (permille), the
    * training-mix shape — "keep 100% of wiki, 30% of web, 5% of
    * boilerplate". Strata absent from the map keep `defaultPermille`.
    * Still one per-row predicate: the rate map rides as a CASE chain. */
  def sampleStratified(df: DataFrame, keyCol: String, stratumCol: String,
                       rates: Map[String, Int], defaultPermille: Int = 0): DataFrame = {
    val rate = rates.foldLeft(lit(defaultPermille)) { case (acc, (s, p)) =>
      when(col(stratumCol) === s, lit(p)).otherwise(acc)
    }
    df.filter(hashBucket1000(col(keyCol)) < rate)
  }

  /** Temperature-flattened keep-rates (permille) from stratum counts —
    * the multilingual-mix math: dominant strata are down-sampled toward
    * uniform, the rarest stratum keeps 100%. This is the α = 0.5 point
    * of the standard `p_i^α` temperature family, computed as
    * `round(1000 · sqrt(min_count / count_i))` — deliberately sqrt, NOT
    * pow: IEEE sqrt is correctly rounded on every platform, so Spark and
    * any SQL oracle derive bit-identical rates (pow differs by ulps
    * across libm implementations, which flips a floor/round on a
    * boundary). Feed the result straight into [[sampleStratified]]. */
  def flattenedKeepPermille(counts: Map[String, Long]): Map[String, Int] = {
    require(counts.nonEmpty && counts.values.forall(_ > 0), "need positive stratum counts")
    val m = counts.values.min.toDouble
    counts.map { case (s, n) => s -> math.round(1000.0 * math.sqrt(m / n)).toInt }
  }

  /** Sequence-packing assignment — the step between sharding and the
    * trainer: per shard, documents are concatenated in id order and
    * chunked into fixed `seqLen`-token packs (the standard pretraining
    * layout: concatenate, then cut at sequence boundaries, documents
    * spanning a cut straddle two packs). Returns the input keyed by
    * `(shard, doc)` plus `tok_start` (the doc's offset in its shard's
    * token stream), `pack_first` and `pack_last` (the pack range the doc
    * lands in). Everything is integer arithmetic over a per-shard
    * running sum — deterministic, engine-portable, and cheap to
    * recompute anywhere.
    *
    * Scale: ONE window per shard partition (`sum over (partition by
    * shard order by doc)` — a sort within each shard's partition, no
    * global ordering anywhere). Shard count is the parallelism dial: at
    * corpus scale use thousands of shards so each window sorts a
    * shard-sized slice. */
  def packSequences(df: DataFrame, idCol: String, tokensCol: String,
                    keyCol: String, nShards: Int, seqLen: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col(idCol))
    assign(df, keyCol, nShards)
      .withColumn("tok_start",
        (sum(col(tokensCol)).over(w) - col(tokensCol)).cast("long"))
      // integer DIV end-to-end: pack ids stay exact at any stream length
      .withColumn("pack_first", expr(s"tok_start DIV $seqLen"))
      .withColumn("pack_last",
        expr(s"greatest(tok_start + $tokensCol - 1, tok_start) DIV $seqLen"))
  }

  /** Write `df` as `shard=N` parquet directories under `outDir`. One
    * shuffle on (shard, sub-file) — both derived from the content key, so
    * the physical layout is as deterministic as the assignment; the
    * repartition width (nShards × filesPerShard) bounds files per shard
    * independent of the input layout. */
  def writeShards(df: DataFrame, outDir: String, keyCol: String,
                  nShards: Int, filesPerShard: Int = 1): Unit =
    assign(df, keyCol, nShards)
      .repartition(nShards * filesPerShard, col("shard"),
        pmod(xxhash64(col(keyCol)), lit(filesPerShard)))
      .write.mode("overwrite").option("partitionOverwriteMode", "static")
      .partitionBy("shard").parquet(outDir)

  /** Linear range quantization to [0, 2^bits): floor((v-lo)·2^bits /
    * (hi-lo+1)) in exact long arithmetic, clamped. The z-order
    * pre-step for naturally-ranged dimensions (dates, prices); use a
    * plain modulo for high-cardinality keys where locality carries no
    * information. */
  def rangeBucket(v: Column, lo: Long, hi: Long, bits: Int): Column = {
    require(hi > lo && bits >= 1 && bits <= 31, s"bad range/bits: [$lo,$hi]/$bits")
    val span = hi - lo + 1L
    // (v-lo)·2^bits is computed in long arithmetic: a span wider than
    // 2^(63-bits) (e.g. epoch-micros with bits near 31) would overflow
    // and the clamp would silently send in-range values to bucket 0,
    // destroying z-order locality with no error. Fail loudly instead;
    // callers with such ranges should pre-scale (days, seconds) first.
    require(span <= (Long.MaxValue >> bits),
      s"range span $span * 2^$bits overflows long arithmetic; " +
        "pre-scale the dimension (e.g. micros -> seconds) or lower bits")
    val n = (v.cast("long") - lo) * (1L << bits)
    // Column `/` is IEEE double division — subtract the long remainder
    // first so the quotient is an exact integer (exact in double too)
    val q = ((n - (n % span)) / span).cast("long")
    least(greatest(q, lit(0L)), lit((1L << bits) - 1L)).cast("long")
  }

  /** Z-order (Morton) interleave of two `bits`-bit non-negative
    * dimensions — the multi-dimensional data-layout key: sorting by z
    * makes parquet row-group min/max ranges tight on BOTH dimensions
    * at once, so a 2-D range predicate prunes row groups that a
    * single-column sort can only prune on its leading dimension.
    * Pure bitwise expression tree (2·bits shift-and-or terms, fully
    * codegen'd, no UDF); exactly reproducible in any engine with
    * shift/and, which the oracle pins. */
  def zorderValue(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bad bits: $bits")
    (0 until bits).map { i =>
      val xb = shiftleft(shiftright(x.cast("long"), i).bitwiseAND(1L), 2 * i)
      val yb = shiftleft(shiftright(y.cast("long"), i).bitwiseAND(1L), 2 * i + 1)
      xb.bitwiseOR(yb)
    }.reduce(_ bitwiseOR _)
  }
}
