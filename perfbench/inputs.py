"""Seeded benchmark inputs and the independent reference they are checked against.

Every input is a parquet directory generated from ``--seed`` by
``shovel_spark.synth``; the engine only ever sees those files. The reference
for a pages input comes from ``shovel_spark.oracle.run_oracle`` (the
row-by-row pure-Python replay the test suite uses), run in a child process
over the input files read with pyarrow one file at a time. It is computed
once per run, after generation, and every check in the run reuses it.
Outputs are read back with pyarrow too: no check goes through Spark.

Reference shape, keyed ``"<status>|<sink>"`` (``sink`` empty for ignored
rows): ``[rows, sum(len(text)), sum(crc32(url)), sum(crc32(text))]``, where
``text`` is the extracted body (absent when parsing failed).
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import zlib

import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shovel_spark.oracle import run_oracle
from shovel_spark.synth import default_domain_rules, default_lang_map, synth_pages

#: The oracle's form of ``shovel_spark.operators.route.default_sink_rules``:
#: ordered (sink, field, value), first match wins.
ORACLE_SINK_RULES = [
    ("hot", "rule_sink", "hot"),
    ("commerce", "rule_sink", "commerce"),
    ("knowledge", "rule_sink", "knowledge"),
    ("media", "rule_sink", "media"),
    ("english", "lang_norm", "en"),
    ("intl", "lang_norm", frozenset({"fr", "de", "es", "zh", "ja"})),
]

#: Domains the paced-recovery config denies on top of the default rules; the
#: dead-letter replay under the default rules must recover them.
EXTRA_DENIED = ("shop.example.net", "docs.example.io")

#: neardup corpus: the shared prefix every doc gets, the id offset of a
#: planted copy, and the word appended to make the copy a near (not exact)
#: duplicate.
BOILERPLATE = (
    "subscribe to our newsletter for daily updates and follow us on "
    "social media platforms for the latest breaking news coverage today"
)
COPY_ID_OFFSET = 10_000_000
COPY_SUFFIX = "copyedit"
#: A source doc needs this many body words so its copy's Jaccard similarity
#: stays >= 0.95, far above the 0.7 threshold and the LSH miss region.
MIN_SOURCE_WORDS = 24


def ref_key(status: str, sink: str | None) -> str:
    return f"{status}|{sink or ''}"


def _crc(s: str) -> int:
    return zlib.crc32(s.encode("utf-8"))


def _oracle_rows(rows: list[dict], lang_map, domain_rules) -> dict[str, list[int]]:
    """Reference aggregate of a list of pages rows."""
    res = run_oracle(rows, lang_map, domain_rules, ORACLE_SINK_RULES)
    out: dict[str, list[int]] = {}

    def add(key: str, url: str) -> None:
        acc = out.setdefault(key, [0, 0, 0, 0])
        text = res.texts.get(url)
        acc[0] += 1
        acc[2] += _crc(url)
        if text is not None:
            acc[1] += len(text)
            acc[3] += _crc(text)

    routed = set()
    for sink, urls in res.sink_rows.items():
        status = "rejected" if sink == "dead_letter" else "acked"
        for url in urls:
            add(ref_key(status, sink), url)
        routed |= urls
    for row in rows:
        if row["url"] not in routed:
            add(ref_key("ignored", None), row["url"])
    return out


def _merge(parts) -> dict[str, list[int]]:
    total: dict[str, list[int]] = {}
    for part in parts:
        for key, vals in part.items():
            acc = total.setdefault(key, [0, 0, 0, 0])
            for i, v in enumerate(vals):
                acc[i] += v
    return total


def default_dims(spark: SparkSession) -> tuple[dict, dict]:
    """The default lang map and domain rules in the oracle's dict form."""
    lang_map = {r.lang_raw: r.lang_norm for r in default_lang_map(spark).collect()}
    rules = {r.domain: (r.action, r.sink) for r in default_domain_rules(spark).collect()}
    return lang_map, rules


def denied_domain_rules(spark: SparkSession) -> DataFrame:
    """The default domain rules with :data:`EXTRA_DENIED` switched to deny."""
    return default_domain_rules(spark).withColumn(
        "action",
        F.when(F.col("domain").isin(*EXTRA_DENIED), F.lit("deny")).otherwise(F.col("action")),
    ).withColumn(
        "sink", F.when(F.col("domain").isin(*EXTRA_DENIED), F.lit(None)).otherwise(F.col("sink"))
    )


def make_pages(spark: SparkSession, path: str, n: int, seed: int, files: int = 8) -> None:
    """Write ``n`` synthetic pages for ``seed`` to ``path`` as ``files``
    parquet files."""
    synth_pages(spark, n, seed=seed, partitions=files).write.mode("overwrite").parquet(path)


def _files_reference(files: list[str], lang_map: dict, rules: dict) -> dict[str, list[int]]:
    return _merge(
        _oracle_rows(pq.read_table(f, columns=["url", "html", "lang"]).to_pylist(), lang_map, rules)
        for f in files
    )


class Reference:
    """The default-rules reference of the pages at ``path``, keyed as in the
    module docstring under ``"by_key"``.

    The oracle replays one parquet file at a time, read with pyarrow,
    without Spark, in a child process (``python3 -m perfbench.inputs``): the
    caller's set-up goes on (the warm-up overlaps it), and the driver's peak
    resident memory (``peak_rss_mb``) reflects the engine calls, not every
    page body held as Python strings. The child is a plain subprocess, not a
    ``multiprocessing`` pool, so no helper process (such as the resource
    tracker) outlives the run. :meth:`result` waits for it; :meth:`close`
    stops the child and waits until it has ended.
    """

    def __init__(self, spark: SparkSession, path: str):
        lang_map, rules = default_dims(spark)
        files = sorted(glob.glob(os.path.join(path, "*.parquet")))
        self._out_path = path.rstrip("/") + ".reference.json"
        request = json.dumps({"files": files, "lang_map": lang_map, "rules": rules})
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        env = dict(os.environ, PYTHONPATH=root)
        with open(self._out_path, "w") as out:
            self._proc = subprocess.Popen(
                [sys.executable, "-m", "perfbench.inputs"],
                stdin=subprocess.PIPE,
                stdout=out,
                cwd=root,
                env=env,
                text=True,
            )
        self._proc.stdin.write(request)
        self._proc.stdin.close()
        self._value: dict | None = None

    def result(self) -> dict:
        if self._value is None:
            code = self._proc.wait()
            if code != 0:
                raise RuntimeError(f"reference process exited with code {code}")
            with open(self._out_path) as fh:
                self._value = {"by_key": json.load(fh)}
        return self._value

    def close(self) -> None:
        if self._proc.poll() is None:
            self._proc.kill()
        self._proc.wait()


def _reference_main() -> None:
    """Child side of :class:`Reference`: a JSON request on stdin, the
    reference on stdout. The child dies with its parent."""
    from perfbench.harness import die_with_parent

    die_with_parent()
    req = json.load(sys.stdin)
    rules = {domain: tuple(v) for domain, v in req["rules"].items()}
    json.dump(_files_reference(req["files"], req["lang_map"], rules), sys.stdout)


def make_neardup_docs(spark: SparkSession, path: str, n_base: int, seed: int) -> dict:
    """Write the near-dup corpus for ``seed`` and return its planted pairs.

    ``n_base`` synthetic bodies each get :data:`BOILERPLATE` as a prefix.
    A seeded 16% of the bodies with at least :data:`MIN_SOURCE_WORDS` words
    are sources; each source's copy (id + :data:`COPY_ID_OFFSET`, text plus
    one word) is added, so copies are about a tenth of the corpus.
    """
    pages = synth_pages(spark, n_base, seed=seed, partitions=4)
    base = pages.select(
        F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long").alias("doc_id"),
        F.concat_ws(" ", F.lit(BOILERPLATE), F.col("text")).alias("text"),
        (
            (F.size(F.split(F.trim("text"), r"\s+")) >= MIN_SOURCE_WORDS)
            & (F.pmod(F.xxhash64(F.lit(seed), F.col("url")), F.lit(100)) < 16)
        ).alias("source"),
    )
    copies = base.filter("source").select(
        (F.col("doc_id") + COPY_ID_OFFSET).alias("doc_id"),
        F.concat_ws(" ", F.col("text"), F.lit(COPY_SUFFIX)).alias("text"),
        F.lit(False).alias("source"),
    )
    base.unionByName(copies).write.mode("overwrite").parquet(path)
    written = read_table(path, ["doc_id", "source"])
    ids, source = written.column("doc_id").to_pylist(), written.column("source").to_pylist()
    return {
        "docs": len(ids),
        "planted": [[i, i + COPY_ID_OFFSET] for i, s in zip(ids, source) if s],
    }


def read_table(path: str, columns: list[str]):
    """A parquet table the engine wrote, read without Spark."""
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)


def sink_totals(out_dir: str, sinks: list[str]) -> dict[str, list[int]]:
    """Per-sink ``[rows, sum(crc32(url)), sum(crc32(text))]`` read back from
    the sink tables of a run."""
    out = {}
    for name in sinks:
        t = read_table(os.path.join(out_dir, f"sink_{name}"), ["url", "text"])
        urls, texts = t.column("url").to_pylist(), t.column("text").to_pylist()
        out[name] = [
            len(urls),
            sum(_crc(u) for u in urls),
            sum(_crc(x) for x in texts if x is not None),
        ]
    return out


def expected_sink_totals(ref: dict, sinks: list[str]) -> dict[str, list[int]]:
    """The reference's view of :func:`sink_totals`."""
    out = {}
    for key, (n, _chars, crc_url, crc_text) in ref["by_key"].items():
        sink = key.split("|", 1)[1]
        if sink in sinks:
            out[sink] = [n, crc_url, crc_text]
    return out


def expected_route_counts(ref: dict, reads: int = 1) -> dict[str, list[int]]:
    """The reference's ``(status, sink) -> [rows, sum(length(text))]`` for
    a scan that reads every page ``reads`` times."""
    return {key: [vals[0] * reads, vals[1] * reads] for key, vals in ref["by_key"].items()}


def count_parquet_files(root: str, prefix: str = "") -> int:
    """Parquet files under the entries of ``root`` whose name starts with
    ``prefix``."""
    n = 0
    for name in os.listdir(root):
        if not name.startswith(prefix):
            continue
        for _dir, _sub, files in os.walk(os.path.join(root, name)):
            n += sum(1 for f in files if f.endswith(".parquet"))
    return n


if __name__ == "__main__":
    _reference_main()
