"""Benchmark workloads: seeded input generators, the CLI call each one
times, engine-free output checks, and the per-layer probes of the
traced run.

Every workload is a closed loop with one client: the benchmark process
runs one CLI call at a time and starts the next only after the previous
one returned and was checked.
"""

from __future__ import annotations

import csv
import glob
import itertools
import os
import re
import shutil
import time
from dataclasses import dataclass
from decimal import ROUND_HALF_UP, Decimal
from datetime import datetime, timedelta, timezone

import numpy as np

_ALPHABET = "abcdefghijklmnopqrstuvwxyz"
_STEMS = np.array(list(_ALPHABET) + [a + b for a in _ALPHABET for b in _ALPHABET])


def _words(ids: np.ndarray, rng: np.random.Generator) -> np.ndarray:
    """Distinct lowercase words, one per id: a random 1-2 letter stem,
    the digit count, then the id spelled in base 26. Lengths vary and
    the words do not sort in id order."""
    n_digits = 1 + sum((ids >= 26**k).astype(np.int64) for k in range(1, 7))
    exps = n_digits[:, None] - 1 - np.arange(7)
    vals = (ids[:, None] // 26 ** np.clip(exps, 0, None)) % 26
    spelled = np.where(exps >= 0, 97 + vals, 0).astype(np.uint8).view("S7").ravel()
    stems = _STEMS[rng.integers(0, _STEMS.size, ids.size)].tolist()
    return np.array(
        [s + str(d) + w.decode() for s, d, w in zip(stems, n_digits.tolist(), spelled.tolist())],
        dtype=object,
    )


def _publish(tmp: str, final: str) -> None:
    """Move a fully written input directory into place (a crash never
    leaves a half-written cache entry under the final name)."""
    if os.path.isdir(final):
        shutil.rmtree(tmp)
    else:
        os.replace(tmp, final)


_CORPUS_FILES = 32
_CACHED_PER_WORKLOAD = 3


@dataclass(frozen=True)
class WordCount:
    """``cli wordcount`` over a generated text corpus, default sorted
    single-file TSV sink."""

    name: str
    tokens: int
    vocab: int | None  # None: every token is a distinct word

    def key(self, seed: int) -> str:
        return f"{self.name}-s{seed}-t{self.tokens}-v{self.vocab}"

    def generate(self, path: str, seed: int) -> None:
        rng = np.random.default_rng(seed)
        if self.vocab is None:
            n_words = self.tokens
            ids = rng.permutation(self.tokens)
        else:
            n_words = self.vocab
            p = np.arange(1, n_words + 1, dtype=np.float64) ** -1.1  # Zipf(1.1)
            ids = rng.choice(n_words, size=self.tokens, p=p / p.sum())
        words = _words(rng.permutation(n_words), rng)
        counts = np.bincount(ids, minlength=n_words)
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.join(tmp, "corpus"))
        line_len = rng.integers(4, 21, self.tokens // 4 + 1)
        ends = np.cumsum(line_len)
        for f, chunk in enumerate(np.array_split(np.arange(self.tokens), _CORPUS_FILES)):
            a, b = int(chunk[0]), int(chunk[-1]) + 1
            toks = words[ids[a:b]].tolist()
            cuts = [0] + [int(e) - a for e in ends[(ends > a) & (ends < b)]] + [b - a]
            lines = [" ".join(toks[s:e]) for s, e in zip(cuts, cuts[1:]) if e > s]
            with open(os.path.join(tmp, "corpus", f"part-{f:03d}.txt"), "w") as fh:
                fh.write("\n".join(lines) + "\n")
        seen = np.flatnonzero(counts)
        expected = sorted(zip(words[seen].tolist(), counts[seen].tolist()))
        with open(os.path.join(tmp, "expected.tsv"), "w") as fh:
            fh.writelines(f"{w}\t{c}\n" for w, c in expected)
        _publish(tmp, path)

    def source(self, inputs: str) -> str:
        return os.path.join(inputs, "corpus")

    def argv(self, inputs: str, out: str) -> list[str]:
        return ["wordcount", "--input", self.source(inputs), "--output", out]

    def check(self, inputs: str, out: str) -> list[str]:
        """The sink must equal the generator's key-sorted ``word\tcount``
        lines, and Σcnt must equal the tokens written."""
        parts = sorted(glob.glob(os.path.join(out, "part-*")))
        if len(parts) != 1:
            return [f"expected one sink file, found {len(parts)}"]
        with open(parts[0]) as fh:
            got = fh.read().splitlines()
        with open(os.path.join(inputs, "expected.tsv")) as fh:
            expected = fh.read().splitlines()
        problems = []
        total = sum(int(line.rpartition("\t")[2]) for line in got)
        if total != self.tokens:
            problems.append(f"sum(cnt)={total}, expected {self.tokens}")
        if len(got) != len(expected):
            problems.append(f"{len(got)} distinct words, expected {len(expected)}")
        elif got != expected:
            if sorted(got) == expected:
                problems.append("output is not key-sorted")
            else:
                problems.append("words or counts differ from the corpus")
        return problems

    def output_rows(self, out: str) -> int:
        return sum(_line_count(p) for p in glob.glob(os.path.join(out, "part-*")))


# --- telemetry ------------------------------------------------------------

_DATASETS = ("100mb", "500mb", "1G", "2G", "5G")
_SLOWSTARTS = (0.2, 0.5, 0.8, 1.0)
_REPORTS = (
    "result_raw", "result_time", "result_map", "result_shuffle",
    "result_reduce", "result_overlap", "result_cpu",
)


@dataclass(frozen=True)
class Telemetry:
    """``cli analyze`` over a generated experiment tree of
    ``monitor.log`` + ``job_output.log`` runs, written by the engine's
    own fixture helpers with seeded parameters."""

    name: str
    runs: int  # per (dataset, slowstart) configuration
    steps: tuple[int, int]  # monitor sampling cycles per run, [lo, hi)

    def key(self, seed: int) -> str:
        return f"{self.name}-s{seed}-r{self.runs}-n{self.steps[0]}_{self.steps[1]}"

    def generate(self, path: str, seed: int) -> None:
        from mapreduce511_spark.plans.fixtures import _job_text, _monitor_text

        rng = np.random.default_rng(seed)
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        base = datetime(2025, 11, 28, 8, 0, 0)
        for ds in _DATASETS:
            for ss in _SLOWSTARTS:
                for r in range(self.runs):
                    run = os.path.join(tmp, "tree", f"_{ds}_slowstart_{ss}", f"2025112{r}_0{r}0000")
                    os.makedirs(run)
                    n_steps = int(rng.integers(*self.steps))
                    zero = int(rng.integers(1, n_steps)) if rng.random() < 0.5 else None
                    with open(os.path.join(run, "monitor.log"), "w") as fh:
                        fh.write(_monitor_text(n_steps, round(float(rng.uniform(5, 60)), 2),
                                               cpu_zero_step=zero))
                    t0 = base + timedelta(seconds=int(rng.integers(0, 86400)))
                    with open(os.path.join(run, "job_output.log"), "w") as fh:
                        fh.write(_job_text(t0.strftime("%Y-%m-%d %H:%M:%S"),
                                           map_minutes=int(rng.integers(1, 7)), slowstart=ss))
        _publish(tmp, path)

    def source(self, inputs: str) -> str:
        return os.path.join(inputs, "tree")

    def argv(self, inputs: str, out: str) -> list[str]:
        return ["analyze", "--tree", self.source(inputs), "--out", out]

    def check(self, inputs: str, out: str) -> list[str]:
        """All 7 CSVs present, one chart per dataset, and ``result_raw``
        equal to a pure-Python restatement of the reference's stage and
        CPU averaging over the generated logs."""
        problems = [f"missing {r}" for r in _REPORTS
                    if not glob.glob(os.path.join(out, r, "part-*.csv"))]
        charts = glob.glob(os.path.join(out, "charts", "*"))
        if len(charts) != len(_DATASETS):
            problems.append(f"{len(charts)} charts, expected {len(_DATASETS)}")
        if problems:
            return problems
        expected = reference_result_raw(self.source(inputs))
        got = {}
        for row in _csv_rows(os.path.join(out, "result_raw")):
            got[(row["dataset"], float(row["slowstart"]))] = row
        if set(got) != set(expected):
            return [f"result_raw configs {sorted(got)} != {sorted(expected)}"]
        for key, exp in expected.items():
            for col, value in exp.items():
                if abs(float(got[key][col]) - value) > 0.01 + 1e-9:
                    problems.append(f"result_raw {key} {col}={got[key][col]}, expected {value}")
        return problems

    def output_rows(self, out: str) -> int:
        return sum(len(_csv_rows(os.path.join(out, r))) for r in _REPORTS)


def _line_count(path: str) -> int:
    with open(path, "rb") as fh:
        return sum(1 for _ in fh)


def _csv_rows(directory: str) -> list[dict]:
    rows = []
    for part in sorted(glob.glob(os.path.join(directory, "part-*.csv"))):
        with open(part, newline="") as fh:
            rows.extend(csv.DictReader(fh))
    return rows


def _round2(x: float) -> float:
    return float(Decimal(repr(x)).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))


_SAMPLE = re.compile(r"\[(\w+-\w+)\] CPU: (\d+\.\d+)% \| MEM: (\d+)%")
_PROGRESS = re.compile(
    r"(\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}),\d+\s+INFO\s+mapreduce\.Job:"
    r"\s+map\s+(\d+)%\s+reduce\s+(\d+)%"
)
_CONFIG = re.compile(r"(?i)_?(\d+(?:mb|MB|gb|GB|M|G)?)_slowstart_([\d\.]+)")


def _monitor_steps(lines: list[str]) -> dict[int, list[float]]:
    """Reference monitor parse: CPU samples grouped by time step, with
    the separator-count step rule, the no-early-separator seed quirk,
    and per-run step normalisation."""
    banner = [("Real Performance Monitor Started" in v) or not v.strip() for v in lines]
    is_sep = [not b and "----" in v for b, v in zip(banner, lines)]
    samples = [(i, m) for i, v in enumerate(lines)
               if not banner[i] and not is_sep[i] and (m := _SAMPLE.search(v))]
    seps = [i for i, s in enumerate(is_sep) if s]
    seeded = (not any(i < 20 for i in seps) and samples
              and (not seps or samples[0][0] < seps[0]))
    running = list(itertools.accumulate(is_sep))
    steps: dict[int, list[float]] = {}
    for i, m in samples:
        step = max(0, running[i] - 1 + (1 if seeded else 0))
        steps.setdefault(step, []).append(float(m.group(2)))
    low = min(steps, default=0)
    return {s - low: v for s, v in steps.items()}


def _stage_metrics(lines: list[str]) -> dict[str, float] | None:
    """Reference stage detection for one run (None: map never reached
    100%, so the run is dropped)."""
    recs = []
    for n, v in enumerate(lines):
        m = _PROGRESS.search(v)
        if m:
            ts = (datetime.strptime(m.group(1), "%Y-%m-%d %H:%M:%S")
                  .replace(tzinfo=timezone.utc).timestamp())
            recs.append((ts, n, int(m.group(2)), int(m.group(3))))
    t_map = min((t for t, _, mp, _ in recs if mp == 100), default=None)
    if t_map is None:
        return None
    t0, t_end = min(r[0] for r in recs), max(r[0] for r in recs)
    t_ss = min((t for t, _, _, rp in recs if rp > 0), default=None)
    heur = min((t for t, _, mp, rp in recs if mp == 100 and rp >= 90), default=None)
    by_desc = sorted(recs, key=lambda r: (r[0], r[1]), reverse=True)
    if heur is not None:
        t_se = heur
    else:
        t_se = by_desc[1][0] if len(recs) >= 2 else t_end
    shuffle = 0.0 if t_ss is None else t_se - t_ss
    overlap = 0.0
    if shuffle > 0:
        start, end = max(t0, t_ss), min(t_map, t_se)
        overlap = (end - start) / shuffle * 100.0 if end > start else 0.0
    return {
        "map_s": _round2(t_map - t0),
        "shuffle_s": _round2(shuffle),
        "reduce_s": _round2(t_end - t_se),
        "total_s": _round2(t_end - t0),
        "overlap_pct": _round2(overlap),
    }


def _read_lines(path: str) -> list[str]:
    with open(path) as fh:
        return fh.read().splitlines()


def reference_result_raw(tree: str) -> dict[tuple[str, float], dict[str, float]]:
    """``result_raw`` restated in pure Python: per configuration, the
    mean of the per-run rounded stage metrics and the mean over time
    steps of the cross-run mean of per-run node means (mean of means).
    Nested run directories only, which is what the generator writes."""
    stages: dict[tuple, list[dict]] = {}
    series: dict[tuple, dict[int, list[float]]] = {}
    for cfg in sorted(os.listdir(tree)):
        m = _CONFIG.search(cfg)
        if not m:
            continue
        key = (m.group(1).upper(), float(m.group(2)))
        for run in sorted(os.listdir(os.path.join(tree, cfg))):
            run_dir = os.path.join(tree, cfg, run)
            sm = _stage_metrics(_read_lines(os.path.join(run_dir, "job_output.log")))
            if sm is not None:
                stages.setdefault(key, []).append(sm)
            per_step = series.setdefault(key, {})
            for step, cpus in _monitor_steps(_read_lines(os.path.join(run_dir, "monitor.log"))).items():
                per_step.setdefault(step, []).append(sum(cpus) / len(cpus))
    out = {}
    for key, runs in stages.items():
        row = {c: _round2(sum(r[c] for r in runs) / len(runs)) for c in runs[0]}
        steps = series.get(key, {})
        if steps:
            means = [sum(v) / len(v) for v in steps.values()]
            row["avg_cpu"] = _round2(sum(means) / len(means))
        out[key] = row
    return out


WORKLOADS = {
    w.name: w
    for w in (
        WordCount("wc_zipf", tokens=1_000_000, vocab=200_000),
        WordCount("wc_unique", tokens=500_000, vocab=None),
        Telemetry("telemetry_analyze", runs=1, steps=(60, 120)),
    )
}


def prepare(workload, cache: str, seed: int) -> tuple[str, float]:
    """Inputs for ``seed`` under ``cache`` (generated on a miss) and the
    seconds spent generating them (0.0 on a cache hit). Only the few
    most recent entries of a workload stay cached."""
    path = os.path.join(cache, workload.key(seed))
    if os.path.isdir(path):
        os.utime(path)
        return path, 0.0
    os.makedirs(cache, exist_ok=True)
    start = time.perf_counter()
    workload.generate(path, seed)
    gen_s = time.perf_counter() - start
    entries = sorted(glob.glob(os.path.join(cache, f"{workload.name}-s*")), key=os.path.getmtime)
    for old in entries[:-_CACHED_PER_WORKLOAD]:
        shutil.rmtree(old, ignore_errors=True)
    return path, gen_s
