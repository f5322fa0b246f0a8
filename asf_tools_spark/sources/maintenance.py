"""Table maintenance: small-file reporting and compaction.

A 100 TB table ingested incrementally (streaming micro-batches, per-batch
dynamic-partition overwrites, lineage-resumed jobs) accretes many small
parquet files per partition; every downstream scan then pays one task +
one open per file and the NameNode/listing cost grows unbounded. Compaction
rewrites undersized partitions into ~target-size files.

File inventory goes through the JVM Hadoop FileSystem API (works for any
configured scheme — local, HDFS, s3a), not os.walk. The rewrite writes the
compacted copy to a temp staging directory and swaps it in with two FS
renames — the compacted data is durable on disk before the original is
touched, so a crash at any point loses no data. Staging dirs live under
``<table>/_compact_tmp/...`` and ``<table>/_compact_old/...``: the leading
underscore makes Spark/Hadoop file listing ignore them, so a concurrent
reader of the table root never sees staged or superseded copies as extra
partitions (a suffix-named sibling like ``date=x__compact_tmp`` would be
parsed as a real partition and silently double-count rows — during every
compaction, and permanently after a crash between rename and delete).
Worst case after a crash is a leftover hidden dir to clean, invisible to
readers. Production note: for strict readers-during-swap semantics put the
table behind a format with a commit protocol; plain parquet readers may
see the partition briefly absent between the two renames.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, functions as F


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def _dir_exists(spark: SparkSession, path: str) -> bool:
    """Hadoop-FS existence check: os.path.isdir is scheme-blind (an
    hdfs://, s3a://, or even file:// store would read as absent forever,
    silently disabling every cross-batch lookup of a streaming store)."""
    fs, hpath = _fs_and_path(spark, path)
    return fs.exists(hpath)


def small_file_report(spark: SparkSession, table_path: str) -> list[dict]:
    """Per partition directory (or the table root for unpartitioned
    tables): file count, total bytes, average file bytes."""
    fs, root = _fs_and_path(spark, table_path)
    report: dict[str, dict] = {}
    it = fs.listFiles(root, True)  # recursive remote iterator
    # qualify: listed file paths are fully qualified (scheme + authority),
    # the input path may be relative/bare — strip a LIKE-qualified root
    root_str = fs.makeQualified(root).toString().rstrip("/")
    while it.hasNext():
        st = it.next()
        p = st.getPath().toString()
        name = p.rsplit("/", 1)[-1]
        if not name.endswith(".parquet"):
            continue
        rel = p[len(root_str):].lstrip("/")
        # mirror Spark's listing rule: hidden path segments (leading '_' or
        # '.') are not table data — skips compaction staging dirs too
        if any(seg.startswith(("_", ".")) for seg in rel.split("/")):
            continue
        part = rel.rsplit("/", 1)[0] if "/" in rel else ""
        d = report.setdefault(part, {"partition": part, "n_files": 0, "bytes": 0})
        d["n_files"] += 1
        d["bytes"] += st.getLen()
    out = sorted(report.values(), key=lambda d: d["partition"])
    for d in out:
        d["avg_bytes"] = d["bytes"] // max(d["n_files"], 1)
    return out


def compact_table(
    spark: SparkSession, table_path: str, target_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
) -> dict:
    """Rewrite every partition whose average file size is below
    ``target_bytes / 2`` (and that has >= ``min_files`` files) into
    ceil(bytes / target) files. Returns {partition: (files_before,
    files_after)} for the rewritten partitions."""
    rewritten: dict[str, tuple[int, int]] = {}
    for d in small_file_report(spark, table_path):
        if d["n_files"] < min_files or d["avg_bytes"] >= target_bytes // 2:
            continue
        n_out = max(1, math.ceil(d["bytes"] / target_bytes))
        root = table_path.rstrip("/")
        if d["partition"]:
            part_path = f"{root}/{d['partition']}"
            # staging lives in HIDDEN dirs inside the table root: Spark's
            # partition discovery ignores '_'-prefixed segments, so readers
            # never parse the staged/superseded copy as a real partition
            tmp_path = f"{root}/_compact_tmp/{d['partition']}"
            old_path = f"{root}/_compact_old/{d['partition']}"
        else:
            # unpartitioned: the swap target is the table root itself, so
            # staging must sit OUTSIDE it — hidden-named siblings. Derive
            # the parent from the FS-QUALIFIED path: string rpartition on
            # a bare relative name yields parent '' (staging at the
            # filesystem root), and on a scheme/bucket root it mangles the
            # authority into a different bucket.
            part_path = root
            fs0, hroot = _fs_and_path(spark, root)
            q = fs0.makeQualified(hroot)
            hparent = q.getParent()
            if hparent is None or str(q.toUri().getPath()) in ("", "/"):
                raise ValueError(
                    f"compact_table: {table_path!r} is a filesystem/bucket "
                    "root — no sibling location exists for crash-safe "
                    "staging; pass a table directory, not a root"
                )
            name = q.getName()
            parent = hparent.toString().rstrip("/")
            tmp_path = f"{parent}/_{name}__compact_tmp"
            old_path = f"{parent}/_{name}__compact_old"
        # write the compacted copy to the staging dir FIRST, then swap via
        # FS renames — a direct in-place overwrite deletes the source
        # before the rewrite commits, so an executor/driver loss mid-write
        # would lose the partition
        spark.read.parquet(part_path).repartition(n_out).write.mode(
            "overwrite"
        ).parquet(tmp_path)
        fs, p_cur = _fs_and_path(spark, part_path)
        _, p_tmp = _fs_and_path(spark, tmp_path)
        _, p_old = _fs_and_path(spark, old_path)
        fs.delete(p_old, True)
        fs.mkdirs(p_old.getParent())  # rename needs an existing dest parent
        # two metadata renames: the only non-atomic window is between them
        # (readers see a missing partition, never a half-written one)
        if not fs.rename(p_cur, p_old):
            raise IOError(f"compact_table: rename {part_path} -> {old_path} failed")
        if not fs.rename(p_tmp, p_cur):
            fs.rename(p_old, p_cur)  # roll back
            raise IOError(f"compact_table: rename {tmp_path} -> {part_path} failed")
        fs.delete(p_old, True)
        rewritten[d["partition"]] = (d["n_files"], n_out)
    return rewritten


def compact_batch_store(
    spark: SparkSession, store_dir: str, partition_cols: list[str],
    keep_latest: int = 1, age_out_below: int | None = None,
) -> dict:
    """Compact a STREAMING LOOKUP STORE partitioned by (…, batch_id, …) —
    the LSH band store (family/batch_id/band_id/bucket) and the substring
    gram-postings store (gram_n/batch_id/bucket). A long-running stream
    accretes one partition tree per micro-batch; every probe join then
    lists and opens all of them. This merges old per-batch partitions into
    one, and optionally ages out batches below a watermark.

    Correctness contract (why this is safe for exactly-once replay):

    - merged rows are restamped with the MAX merged batch_id, which is
      strictly < every future batch id — the store lookup's
      ``batch_id < current`` filter still includes them for all new
      batches;
    - the newest ``keep_latest`` batches are NEVER merged: after a
      checkpoint-recovery replay, foreachBatch re-runs the LAST batch,
      whose lookup must exclude its own grams — folding them into an
      older-stamped partition would make the replayed batch treat its own
      writes as earlier duplicates (a nondeterministic rewrite);
    - a replayed batch dynamic-overwrites only its OWN batch_id partition,
      which compaction left in place.

    ``age_out_below`` drops batches below the watermark entirely: for the
    gram store that is the documented semantic lever — a span whose only
    earlier sighting was aged out becomes a NEW canonical copy (bounded
    memory in exchange for re-admitting ancient duplicates), exactly the
    TTL trade of every windowed dedup.

    Crash-safety: same staging discipline as compact_table (write the
    merged copy durable under a '_'-hidden dir, then swap via FS renames).
    Run while the stream is quiesced — between the rename steps a probe
    would briefly miss the merged batches; a crash leaves the originals
    recoverable under ``_compact_old``.

    Returns {"aged_out": [...], "merged": [...], "target_batch": int|None,
    "partitions_before": int, "partitions_after": int}.
    """
    if "batch_id" not in partition_cols:
        raise ValueError("partition_cols must include 'batch_id'")
    depth = partition_cols.index("batch_id")
    fs, root = _fs_and_path(spark, store_dir)
    jvm = spark._jvm
    root_q = fs.makeQualified(root).toString().rstrip("/")

    def batch_dirs(batch: int | None = None):
        pat = "/".join(["*"] * depth + [f"batch_id={'*' if batch is None else batch}"])
        glob = jvm.org.apache.hadoop.fs.Path(f"{root_q}/{pat}")
        return [st.getPath() for st in fs.globStatus(glob) or []]

    n_before = len(batch_dirs())
    df = spark.read.parquet(store_dir)
    batches = sorted(r.batch_id for r in df.select("batch_id").distinct().collect())
    aged = [b for b in batches if age_out_below is not None and b < age_out_below]
    live = [b for b in batches if b not in aged]
    merge = live[: len(live) - keep_latest] if keep_latest > 0 else list(live)
    out = {"aged_out": aged, "merged": [], "target_batch": None,
           "partitions_before": n_before}

    if len(merge) >= 2:
        target = max(merge)
        tmp = f"{root_q}/_compact_tmp"
        merged_df = (
            df.where(F.col("batch_id").isin([int(b) for b in merge]))
            .withColumn("batch_id", F.lit(int(target)).cast(df.schema["batch_id"].dataType))
        )
        # one output file per leaf partition: the whole point is fewer
        # files. Staged BEFORE any deletion — the merge job must never
        # depend on paths the age-out below is about to remove.
        merged_df.repartition(*partition_cols).write.mode("overwrite").partitionBy(
            *partition_cols
        ).parquet(tmp)

    for b in aged:
        for p in batch_dirs(b):
            fs.delete(p, True)

    if len(merge) >= 2:
        old_root = jvm.org.apache.hadoop.fs.Path(f"{root_q}/_compact_old")
        fs.delete(old_root, True)
        for b in merge:
            for p in batch_dirs(b):
                rel = p.toString()[len(root_q):].lstrip("/")
                dest = jvm.org.apache.hadoop.fs.Path(f"{root_q}/_compact_old/{rel}")
                fs.mkdirs(dest.getParent())
                if not fs.rename(p, dest):
                    raise IOError(f"compact_batch_store: rename {p} failed")
        # move the merged batch partitions into place (tmp mirrors the
        # store layout: <p1=v1>/.../batch_id=target/...)
        pat = "/".join(["*"] * depth + [f"batch_id={target}"])
        for p in fs.globStatus(jvm.org.apache.hadoop.fs.Path(f"{tmp}/{pat}")) or []:
            src = p.getPath()
            rel = src.toString()[len(tmp):].lstrip("/")
            dest = jvm.org.apache.hadoop.fs.Path(f"{root_q}/{rel}")
            fs.mkdirs(dest.getParent())
            if not fs.rename(src, dest):
                raise IOError(f"compact_batch_store: rename {src} failed")
        fs.delete(jvm.org.apache.hadoop.fs.Path(tmp), True)
        fs.delete(old_root, True)
        out["merged"] = [int(b) for b in merge]
        out["target_batch"] = int(target)

    out["partitions_after"] = len(batch_dirs())
    return out
