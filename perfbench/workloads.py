"""Workloads: seeded corpora, the timed actions, the in-process reference and
the output checks.

Every workload is a closed loop: one driver, one action at a time. The seed
only enters through corpus generation; the library sees parquet files.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import zlib
from dataclasses import dataclass

import checks

MARKUP_CLASSES = ("html_boilerplate", "pdf_stream", "tool_markup", "error")
KINDS = ("plain", "html", "pdf", "tool")
N_BUCKETS = 64
WAVES = 2
FIRST_WAVES = 1
REFERENCE_PROCS = 4
KERNEL_SAMPLE_ROWS = 20000
CORPUS_FILES = 4


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    n_convs: int
    markup_only: bool = False
    skew_turns: int | None = None
    checkpoint: bool = False
    # in BENCHMARK.json; the others run only when named on the command line
    benchmarked: bool = True


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "extract_plain_heavy",
            "default payload mix (86.8% plain turns): the Arrow round trip and "
            "the fold dominate, the kernels do little",
            n_convs=3500,
        ),
        Workload(
            "extract_markup_heavy",
            "html/pdf/tool/error conversations only: kernel time dominates and "
            "malformed pdf turns take the error-drop path",
            n_convs=14000,
            markup_only=True,
        ),
        Workload(
            "checkpoint_resume",
            "CheckpointedExtraction, 1 of 2 waves then resume, with one long "
            "conversation so 'auto' picks the two-phase fold",
            n_convs=6000,
            skew_turns=50000,
            checkpoint=True,
            # one ~20 s action per run, and ~80 s a run: too slow and too
            # noisy for the benchmark's run budget
            benchmarked=False,
        ),
    )
}
BENCHMARKED = [name for name, w in WORKLOADS.items() if w.benchmarked]


# ---------------------------------------------------------------------------
# corpus


def make_corpus(w: Workload, seed: int, path: str) -> None:
    """Write the workload's seeded corpus to ``path`` as parquet.

    The rows are ``sources.transcripts.gen_conversation``'s, as
    ``synthesize_transcripts`` makes them, generated in this process (a
    fraction of what a Spark job costs here) and laid out as
    ``spark.range(0, n, 1, CORPUS_FILES)`` would: one file per contiguous range of
    conversation numbers, plus one for the skewed conversation.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    from autoscan_spark.sources.transcripts import (
        PAYLOAD_CLASSES,
        TRANSCRIPT_SCHEMA,
        gen_conversation,
    )

    schema = pa.schema(
        [
            ("conv_id", pa.string()),
            ("turn_idx", pa.int32()),
            ("role", pa.string()),
            ("text", pa.string()),
            ("tool", pa.string()),
            ("ts", pa.timestamp("us", tz="UTC")),
        ]
    )
    assert schema.names == TRANSCRIPT_SCHEMA.fieldNames()
    wanted = {PAYLOAD_CLASSES.index(c) for c in MARKUP_CLASSES}
    n, files = w.n_convs, CORPUS_FILES
    shares = [range(n * k // files, n * (k + 1) // files) for k in range(files)]
    if w.skew_turns:
        shares.append(range(w.n_convs, w.n_convs + 1))
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for k, share in enumerate(shares):
        rows = []
        for conv_num in share:
            if w.markup_only and conv_num % len(PAYLOAD_CLASSES) not in wanted:
                continue
            skew = w.skew_turns if conv_num == w.n_convs else None
            rows.extend(gen_conversation(conv_num, seed=seed, skew_turns=skew))
        table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema=schema)
        pq.write_table(table, os.path.join(tmp, f"part-{k:05d}.parquet"))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)


def corpus_path(cache: str, w: Workload, seed: int) -> str:
    return os.path.join(cache, "corpus", w.name, f"n{w.n_convs}-s{seed}")


def ensure_corpus(cache: str, w: Workload, seed: int, keep: int = 12) -> str:
    """Generate the corpus unless cached; keep the workload's ``keep`` newest."""
    path = corpus_path(cache, w, seed)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        make_corpus(w, seed, path)
    os.utime(path)
    root = os.path.dirname(path)
    entries = sorted(
        (os.path.join(root, d) for d in os.listdir(root)),
        key=os.path.getmtime,
        reverse=True,
    )
    for old in entries[keep:]:
        shutil.rmtree(old, ignore_errors=True)
    return path


def read_columns(path: str, columns) -> list[list]:
    import pyarrow.parquet as pq

    table = pq.read_table(path, columns=list(columns))
    return [table.column(c).to_pylist() for c in columns]


# ---------------------------------------------------------------------------
# the library's pipeline, driven through its public entry points


def pipeline(df, two_phase: bool):
    from autoscan_spark.operators.extract import drop_failed, extract_turns
    from autoscan_spark.operators.fold import fold_documents

    return fold_documents(drop_failed(extract_turns(df, mode="low")), two_phase=two_phase)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def identity_boundary(df):
    """mapInArrow that returns its input: the JVM<->Python round trip alone."""
    cols = df.select("conv_id", "turn_idx", "role", "text")

    def identity(batches):
        yield from batches

    return cols.mapInArrow(identity, schema=cols.schema)


def run_checkpoint(spark, df, root: str, group: str, resume: bool = True):
    """FIRST_WAVES of WAVES waves, then (if ``resume``) a resuming run to
    completion. Returns (first_s, resume_s); job groups are
    ``<group>.first``/``<group>.resume``."""
    from autoscan_spark.plans.checkpoint import CheckpointedExtraction

    shutil.rmtree(root, ignore_errors=True)
    ce = CheckpointedExtraction(root, n_buckets=N_BUCKETS, two_phase_fold="auto")
    sc = spark.sparkContext
    sc.setJobGroup(f"{group}.first", "checkpoint first waves")
    t0 = time.perf_counter()
    first = ce.run(df, waves=WAVES, max_waves=FIRST_WAVES)
    t1 = time.perf_counter()
    if not resume:
        return t1 - t0, 0.0
    sc.setJobGroup(f"{group}.resume", "checkpoint resume")
    rest = ce.run(df, waves=WAVES)
    t2 = time.perf_counter()
    if first + rest != N_BUCKETS or rest == 0:
        raise RuntimeError(f"checkpoint committed {first}+{rest} of {N_BUCKETS} buckets")
    return t1 - t0, t2 - t1


def action_groups(w: Workload, group: str) -> list[str]:
    return [f"{group}.first", f"{group}.resume"] if w.checkpoint else [group]


def timed_action(spark, w: Workload, df, two_phase: bool, ckpt_root: str, group: str):
    """The workload's action; returns (first_s, resume_s) for the checkpoint."""
    if w.checkpoint:
        return run_checkpoint(spark, df, ckpt_root, group)
    spark.sparkContext.setJobGroup(group, f"{w.name} extract+fold")
    noop(pipeline(df, two_phase))
    return None


# ---------------------------------------------------------------------------
# reference and checks


def _reference_part(args) -> tuple:
    """One share of the reference: the conversations with crc32(conv_id) %
    parts == part, so every conversation is folded whole in one process."""
    from autoscan_spark.kernels.dispatch import extract_turn
    from autoscan_spark.kernels.pagejoin import join_pages

    path, part, parts = args
    turns = []
    by_conv: dict[str, list] = {}
    errors = dict.fromkeys(KINDS, 0)
    for c, i, r, x in zip(*read_columns(path, ("conv_id", "turn_idx", "role", "text"))):
        if zlib.crc32(c.encode("utf-8")) % parts != part:
            continue
        out, _spans, status, kind = extract_turn(x, r)
        turns.append((c, i, out, status))
        if status == "ok":
            by_conv.setdefault(c, []).append((i, out))
        else:
            errors[kind] += 1
    docs = ((c, join_pages([o for _, o in sorted(v)])) for c, v in by_conv.items())
    return checks.digest_sum(turns), checks.digest_sum(docs), errors


def reference(path: str) -> dict:
    """The pipeline's expected output, computed outside Spark with
    ``kernels.dispatch.extract_turn`` and ``kernels.pagejoin.join_pages``,
    split over REFERENCE_PROCS child processes that are each waited for
    (no multiprocessing pool: its resource tracker outlives the run)."""
    procs = [
        subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), path, str(k), str(REFERENCE_PROCS)],
            stdout=subprocess.PIPE,
            text=True,
        )
        for k in range(REFERENCE_PROCS)
    ]
    try:
        outs = [p.communicate()[0] for p in procs]
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()
    if any(p.returncode for p in procs):
        raise RuntimeError(f"reference: exit codes {[p.returncode for p in procs]}")
    parts = [json.loads(out) for out in outs]
    return {
        "turns": list(checks.merge(p[0] for p in parts)),
        "docs": list(checks.merge(p[1] for p in parts)),
        "error_rows": {k: sum(p[2][k] for p in parts) for k in KINDS},
    }


def _turn_digests(batches):
    """Per Arrow batch of extracted turns: row count, digest sum and error
    rows by kind (runs in the Python workers)."""
    import json

    import pyarrow as pa

    for b in batches:
        conv, idx, text, status, kind = (b.column(i).to_pylist() for i in range(5))
        n, total = checks.digest_sum(zip(conv, idx, text, status))
        errors = dict.fromkeys(KINDS, 0)
        for s, k in zip(status, kind):
            if s != "ok":
                errors[k] += 1
        yield pa.RecordBatch.from_pydict(
            {"n": [n], "total": [str(total)], "errors": [json.dumps(errors)]}
        )


def collect_flat(df, two_phase: bool) -> dict:
    """Summary of the pipeline's turns (hashed where they are produced) and
    documents (collected over Arrow)."""
    import json

    from autoscan_spark.operators.extract import extract_turns

    turns = extract_turns(df, mode="low").select(
        "conv_id", "turn_idx", "extracted_text", "status", "kind"
    )
    parts = turns.mapInArrow(_turn_digests, "n long, total string, errors string").collect()
    errors = dict.fromkeys(KINDS, 0)
    for p in parts:
        for k, v in json.loads(p["errors"]).items():
            errors[k] += v
    d = pipeline(df, two_phase).select("conv_id", "markdown").toArrow()
    return {
        "turns": list(checks.merge((p["n"], int(p["total"])) for p in parts)),
        "docs": list(checks.content_hash(zip(*(d.column(c).to_pylist() for c in d.column_names)))),
        "error_rows": errors,
    }


def collect_checkpoint(root: str) -> tuple[dict, set, int]:
    """Summary of a finished checkpoint's tables, plus its committed bucket
    set and the rows the lineage says went in."""
    turns = read_columns(
        os.path.join(root, "extracted"),
        ("conv_id", "turn_idx", "extracted_text", "status", "kind"),
    )
    docs = read_columns(os.path.join(root, "doc_markdown"), ("conv_id", "markdown"))
    buckets, rows_in = read_columns(os.path.join(root, "lineage"), ("partition_id", "rows_in"))
    return _summarize(turns, docs), set(buckets), sum(rows_in)


def _summarize(turn_cols, doc_cols) -> dict:
    conv, idx, text, status, kind = turn_cols
    errors = dict.fromkeys(KINDS, 0)
    for s, k in zip(status, kind):
        if s != "ok":
            errors[k] += 1
    return {
        "turns": list(checks.content_hash(zip(conv, idx, text, status))),
        "docs": list(checks.content_hash(zip(*doc_cols))),
        "error_rows": errors,
    }


def compare(got: dict, want: dict, label: str) -> list[str]:
    return [
        f"{label}: {key} {got[key]} != {want[key]}"
        for key in ("turns", "docs", "error_rows")
        if got[key] != want[key]
    ]


# ---------------------------------------------------------------------------
# in-process kernel timing (one core)


def time_kernels(path: str, repeats: int = 3) -> dict:
    """µs per turn by payload class and µs per conversation for the fold, on
    the first KERNEL_SAMPLE_ROWS rows of the corpus in (conv_id, turn_idx)
    order. Classes are counted with ``kernels.dispatch.classify``."""
    import pyarrow.parquet as pq

    from autoscan_spark.kernels.dispatch import classify, extract_turn
    from autoscan_spark.kernels.pagejoin import join_pages

    table = pq.read_table(path, columns=["conv_id", "turn_idx", "role", "text"])
    table = table.sort_by([("conv_id", "ascending"), ("turn_idx", "ascending")])
    table = table.slice(0, KERNEL_SAMPLE_ROWS)
    conv_ids, roles, texts = (table.column(c).to_pylist() for c in ("conv_id", "role", "text"))
    by_kind: dict[str, list] = {k: [] for k in KINDS}
    for r, x in zip(roles, texts):
        by_kind[classify(x or "", r or "")].append((x, r))

    out = {}
    for kind, rows in by_kind.items():
        walls = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            for x, r in rows:
                extract_turn(x, r)
            walls.append(time.perf_counter() - t0)
        out[f"kernel.us_per_turn.{kind}"] = statistics.median(walls) / max(len(rows), 1) * 1e6
        out[f"kernel.turns.{kind}"] = len(rows)

    pages: dict[str, list] = {}
    for c, r, x in zip(conv_ids, roles, texts):
        text, _spans, status, _kind = extract_turn(x, r)
        if status == "ok":
            pages.setdefault(c, []).append(text)
    walls = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        for p in pages.values():
            join_pages(p)
        walls.append(time.perf_counter() - t0)
    out["kernel.fold_us_per_conv"] = statistics.median(walls) / max(len(pages), 1) * 1e6
    return out


if __name__ == "__main__":
    # one share of the reference: workloads.py <corpus> <part> <parts>
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    corpus, part, parts = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    print(json.dumps(_reference_part((corpus, part, parts))))
