"""WebDataset-style tar shard sink + reader: the training-loop exit.

The reference engine's outputs are interchange files (XML/PBF/OPL —
io.cpp suffix dispatch); a 100 TB image+caption corpus feeds GPU trainers
instead, and the de-facto container there is the WebDataset convention:
POSIX tar shards whose members pair up by key stem — ``<key>.<fmt>`` holds
the image payload, ``<key>.txt`` the caption — streamed sequentially by
the data loader.

`operators/curation.shard_manifest` already decides WHICH shard each
sample lands in (offset-based next-fit along the Z-curve, so one shard =
one region). This sink materializes those shards as REAL tar bytes:

  - one shuffle keyed by shard_id (groupBy -> applyInPandas), one task
    per shard, members written in (order_cols) order — fully
    deterministic bytes: USTAR format, mtime=0, uid=gid=0, blank
    uname/gname, mode 0644, so reruns produce byte-identical shards
    (sha256 recorded in the returned manifest).
  - tar size is CLOSED-FORM: 512-byte header + payload padded to 512
    per member, 1024 end-of-archive, whole file padded to the 10240
    record size — so the DuckDB oracle predicts every shard's on-disk
    byte count by pure arithmetic (any header/padding bug shifts it).
  - memory: one shard's pandas group is held per task — size
    target_bytes to the executor (the manifest's contract already
    bounds a shard to target_bytes + one straddler).

At 100 TB the out_dir is a shared object store; locally it's a
directory. Writes are atomic (temp file + rename).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TAR_BLOCK = 512
TAR_RECORD = 10240  # tarfile.RECORDSIZE: archives are padded to this


def tar_size_py(member_sizes: list[int]) -> int:
    """Closed-form USTAR archive size (the oracle's formula)."""
    raw = sum(TAR_BLOCK + -(-s // TAR_BLOCK) * TAR_BLOCK for s in member_sizes)
    raw += 2 * TAR_BLOCK  # end-of-archive zero blocks
    return -(-raw // TAR_RECORD) * TAR_RECORD


def write_webdataset_shards(
    df: DataFrame,
    out_dir: str,
    shard_col: str = "shard_id",
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    caption_col: str = "caption",
    fmt_col: str = "fmt",
) -> DataFrame:
    """Write one tar per shard; return the manifest DataFrame
    (shard_id, n_samples, data_bytes, tar_bytes, sha256, path).

    ``df`` carries payload + assignment: the shard column and the
    (zcell, image_id) member order come from `shard_manifest` (join on
    the id). Member stems are the
    zero-padded decimal id (12 digits covers int64 ids seen in corpora;
    string ids pass through verbatim) — stems sort in id order, and
    every name stays under the 100-char USTAR limit.
    """
    import os

    os.makedirs(out_dir, exist_ok=True)
    order = ["zcell", "image_id"]

    # kernel is self-contained (stdlib only) — executors don't need the
    # package on sys.path (see sinks/pbf.py for the same rule)
    def _write_shard(pdf):
        import hashlib
        import io
        import os
        import tarfile
        import tempfile

        import pandas as pd

        pdf = pdf.sort_values(order, kind="mergesort")
        shard_id = int(pdf[shard_col].iloc[0])
        final = os.path.join(out_dir, f"shard-{shard_id:016x}.tar")
        fd, tmp = tempfile.mkstemp(dir=out_dir, suffix=".tar.tmp")
        n = 0
        data_bytes = 0
        try:
            with os.fdopen(fd, "wb") as fh:
                with tarfile.open(
                    fileobj=fh, mode="w", format=tarfile.USTAR_FORMAT
                ) as tar:
                    for _, row in pdf.iterrows():
                        rid = row[id_col]
                        stem = f"{int(rid):012d}" if not isinstance(rid, str) else rid
                        payload = bytes(row[bytes_col])
                        cap = str(row[caption_col]).encode("utf-8")
                        for name, data in (
                            (f"{stem}.{row[fmt_col]}", payload),
                            (f"{stem}.txt", cap),
                        ):
                            ti = tarfile.TarInfo(name=name)
                            ti.size = len(data)
                            ti.mtime = 0
                            ti.uid = ti.gid = 0
                            ti.uname = ti.gname = ""
                            ti.mode = 0o644
                            tar.addfile(ti, io.BytesIO(data))
                            data_bytes += len(data)
                        n += 1
            h = hashlib.sha256()
            with open(tmp, "rb") as fh:
                for chunk in iter(lambda: fh.read(1 << 20), b""):
                    h.update(chunk)
            os.replace(tmp, final)
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)
        return pd.DataFrame(
            [
                {
                    "shard_id": shard_id,
                    "n_samples": n,
                    "data_bytes": data_bytes,
                    "tar_bytes": os.path.getsize(final),
                    "sha256": h.hexdigest(),
                    "path": final,
                }
            ]
        )

    schema = (
        "shard_id long, n_samples long, data_bytes long, "
        "tar_bytes long, sha256 string, path string"
    )
    return df.groupBy(shard_col).applyInPandas(_write_shard, schema)


def read_webdataset_shards(spark: SparkSession, path: str) -> DataFrame:
    """Read tar shards back as (shard_path, key, ext, data) — the
    training-loader view, one row per member. binaryFile loads a whole
    shard per row (shards are target_bytes-sized by contract), then the
    untar runs Arrow-batched in mapInPandas; shards decode in parallel,
    one task each."""
    files = spark.read.format("binaryFile").load(f"{path}/*.tar")

    def _untar(batches):
        import io
        import os
        import tarfile

        import pandas as pd

        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                with tarfile.open(
                    fileobj=io.BytesIO(row["content"]), mode="r"
                ) as tar:
                    for m in tar.getmembers():
                        stem, ext = os.path.splitext(m.name)
                        rows.append(
                            {
                                "shard_path": row["path"],
                                "key": stem,
                                "ext": ext.lstrip("."),
                                "data": tar.extractfile(m).read(),
                            }
                        )
            yield pd.DataFrame(
                rows, columns=["shard_path", "key", "ext", "data"]
            )

    return files.select("path", "content").mapInPandas(
        _untar, "shard_path string, key string, ext string, data binary"
    )
