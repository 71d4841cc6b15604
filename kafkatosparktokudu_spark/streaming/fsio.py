"""Filesystem-agnostic directory listing for streaming state stores.

The st04/st05 epoch stores used to discover prior epochs with
driver-local ``os.listdir`` while all reads/writes went through
``spark.read``/``spark.write`` — correct on local paths, silently WRONG
on HDFS/S3 (os.listdir finds nothing, prior state resolves to empty,
offsets reset with no error; ADVICE r9). These helpers go through the
Hadoop FileSystem API — the SAME resolution layer Spark's own
reads/writes use — so any URI scheme the cluster can write, the epoch
discovery can list.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs_and_path(spark: SparkSession, dir_uri: str):
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(dir_uri)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, path


def list_epochs(spark: SparkSession, dir_uri: str) -> list[int]:
    """Sorted epoch numbers of the ``epoch=N`` subdirectories under
    ``dir_uri`` (empty if the directory doesn't exist), via the Hadoop
    FileSystem API so HDFS/S3 stores resolve exactly like local paths."""
    fs, path = _fs_and_path(spark, dir_uri)
    if not fs.exists(path):
        return []
    out: list[int] = []
    for st in fs.listStatus(path):
        name = st.getPath().getName()
        if name.startswith("epoch="):
            try:
                out.append(int(name.split("=", 1)[1]))
            except ValueError:
                continue
    return sorted(out)


def epoch_is_complete(spark: SparkSession, dir_uri: str, epoch: int) -> bool:
    """True iff ``dir_uri/epoch=N`` carries the ``_SUCCESS`` marker Spark's
    file committer writes LAST — i.e. the snapshot write finished. A
    monitoring read racing a crash-interrupted epoch write must skip the
    partial directory (ADVICE r10)."""
    fs, _ = _fs_and_path(spark, dir_uri)
    jvm = spark._jvm
    return fs.exists(
        jvm.org.apache.hadoop.fs.Path(f"{dir_uri}/epoch={epoch}/_SUCCESS")
    )


def latest_complete_epoch(spark: SparkSession, dir_uri: str) -> int | None:
    """Newest epoch whose write FINISHED (``_SUCCESS`` present) — what a
    monitoring read racing a crash-interrupted epoch write must consume
    (the partial dir belongs to the engine's replay, not to readers)."""
    for e in reversed(list_epochs(spark, dir_uri)):
        if epoch_is_complete(spark, dir_uri, e):
            return e
    return None


def latest_epoch_before(
    spark: SparkSession, dir_uri: str, epoch_id: int
) -> int | None:
    """Largest stored epoch strictly below ``epoch_id`` — what a (possibly
    replayed) epoch must read as its predecessor snapshot — or None."""
    prior = [e for e in list_epochs(spark, dir_uri) if e < epoch_id]
    return max(prior) if prior else None


def read_text(spark: SparkSession, file_uri: str) -> str | None:
    """Contents of a small control file (an index's meta sidecar) via
    the Hadoop FileSystem API, or None if the file does not exist. Read
    errors OTHER than absence propagate — an index whose meta exists but
    cannot be read must fail loudly, never silently degrade."""
    fs, path = _fs_and_path(spark, file_uri)
    if not fs.exists(path):
        return None
    stream = fs.open(path)
    try:
        out = bytearray()
        buf = spark._jvm.java.io.BufferedReader(
            spark._jvm.java.io.InputStreamReader(stream, "UTF-8")
        )
        line = buf.readLine()
        while line is not None:
            out.extend(line.encode("utf-8"))
            line = buf.readLine()
            if line is not None:
                out.extend(b"\n")
        return out.decode("utf-8")
    finally:
        stream.close()


def write_text_atomic(spark: SparkSession, file_uri: str, text: str) -> None:
    """Write a small control file via the Hadoop FileSystem API: create
    ``file_uri.tmp`` (overwrite), then rename over the target — atomic on
    HDFS and local filesystems (rename-into-place), last-writer-wins on
    object stores, and in every case exactly as remote-capable as the
    spark.read/write calls it accompanies."""
    fs, path = _fs_and_path(spark, file_uri)
    jvm = spark._jvm
    tmp = jvm.org.apache.hadoop.fs.Path(file_uri + ".tmp")
    stream = fs.create(tmp, True)
    try:
        stream.write(bytearray(text.encode("utf-8")))
    finally:
        stream.close()
    if fs.exists(path):
        fs.delete(path, False)
    if not fs.rename(tmp, path):
        raise OSError(f"atomic rename failed for {file_uri}")


def delete_dir(spark: SparkSession, dir_uri: str) -> bool:
    """Recursively delete a directory (no-op returning False when it
    does not exist) via the Hadoop FileSystem API — the cleanup step of
    index compaction, remote-capable like every helper here."""
    fs, path = _fs_and_path(spark, dir_uri)
    if not fs.exists(path):
        return False
    return bool(fs.delete(path, True))


def rename(spark: SparkSession, src_uri: str, dst_uri: str) -> None:
    """Rename/move a file or directory via the Hadoop FileSystem API.
    Fails loudly if the source is absent or the rename is refused (e.g.
    destination exists) — callers stage-then-rename, so a refused rename
    means a replayed step whose destination already landed: delete the
    stale destination first if overwrite semantics are wanted."""
    fs, src = _fs_and_path(spark, src_uri)
    dst = spark._jvm.org.apache.hadoop.fs.Path(dst_uri)
    if not fs.exists(src):
        raise FileNotFoundError(f"rename source missing: {src_uri}")
    if not fs.rename(src, dst):
        raise OSError(f"rename {src_uri} -> {dst_uri} refused")


def prune_epochs(
    spark: SparkSession, dir_uri: str, keep_latest: int
) -> list[int]:
    """Best-effort retention for cumulative per-epoch snapshot stores:
    delete all but the newest ``keep_latest`` epoch directories and
    return the pruned epoch numbers. Safe to run after a successful
    snapshot write — a replayed epoch only ever reads its immediate
    predecessor, which is always retained (keep_latest >= 2)."""
    if keep_latest < 2:
        raise ValueError(f"keep_latest must be >= 2, got {keep_latest}")
    epochs = list_epochs(spark, dir_uri)
    doomed = epochs[:-keep_latest] if len(epochs) > keep_latest else []
    fs, _ = _fs_and_path(spark, dir_uri)
    jvm = spark._jvm
    for e in doomed:
        try:
            fs.delete(jvm.org.apache.hadoop.fs.Path(f"{dir_uri}/epoch={e}"), True)
        except Exception:  # noqa: BLE001 — retention is best-effort
            pass
    return doomed
