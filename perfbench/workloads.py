"""The benchmark's workloads.

A workload gives ``run.py`` three things:

* ``build(spark)`` — the inputs of one run: the seeded syslog corpus,
  or the scan-cache split that ``queries.load`` performs on first
  read. ``run.py`` builds several times and reports the median as part
  of ``setup_s``; only the last build is used;
* ``ops(spark)`` — one pass: the calls a single client makes back to
  back, each into a public function of the engine;
* ``check(op, result)`` — the problems found in one op's output,
  called after the pass clock has stopped.

Every pass is checked. ``relay`` and ``fanout`` run
``config.runtime.run_config_batch`` and check the files it wrote.
``query_mix``, ``dedup`` and ``snare_parse`` call registered query
functions and collect each result (at most ~10k rows at sf0.01),
whose value hash is compared with the DuckDB oracle's. ``bench.py`` writes to the
``noop`` sink instead; collecting executes the same plan and lets
every timed pass be checked without executing it a second time.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from dataclasses import dataclass
from typing import Callable

import corpus

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
EXPECTED_HASHES = os.path.join(HERE, "expected_hashes.json")


@dataclass
class Op:
    """One call into the engine. ``construct`` (optional) builds what
    ``execute`` runs; ``run.py`` times and traces the two apart."""
    name: str
    execute: Callable[[object], object]
    construct: Callable[[], object] | None = None


class Workload:
    name = ""

    def __init__(self, work: str, seed: int, smoke: bool, corrupt: bool):
        self.work = work
        self.seed = seed
        self.smoke = smoke
        #: damage each output before it is checked (test of the checks)
        self.corrupt = corrupt
        #: input records one pass processes (for msgs_per_cpu_s)
        self.records = 0
        self.builds = 0

    def _fresh_dir(self, kind: str) -> str:
        self.builds += 1
        d = os.path.join(self.work, f"{kind}{self.builds}")
        shutil.rmtree(os.path.join(self.work, f"{kind}{self.builds - 1}"),
                      ignore_errors=True)
        return d

    def build(self, spark) -> None:
        raise NotImplementedError

    def before_pass(self) -> None:
        """Untimed clean-up between passes."""

    def ops(self, spark) -> list[Op]:
        raise NotImplementedError

    def check(self, op: str, result) -> list[str]:
        raise NotImplementedError


# --------------------------------------------------------------------
# config-driven workloads

FANOUT_CONF = """
module(load="impstats" log.file="{work}/impstats.log")
dyn_stats(name="per_sev")
template(name="tjson" type="list" option.jsonf="on") {{
  property(outname="host" name="hostname" format="jsonf")
  property(outname="sev" name="syslogseverity" format="jsonf")
  property(outname="msg" name="msg" format="jsonf")
  property(outname="route" name="$!route" format="jsonf")
}}
template(name="tstr" type="string"
         string="%syslogseverity-text%,%hostname%,%programname%,%$!route%\\n")
ruleset(name="fan") {{
  set $!route = "r" & $syslogfacility-text;
  set $.n = dyn_inc("per_sev", $syslogseverity-text);
  if prifilt("*.warning") then {{
    action(type="omfile" name="act_warn" file="{out}/warn" template="tjson")
  }}
  :programname, startswith, "{prefix}" action(type="omfile" name="act_prog"
      file="{out}/prog" template="RSYSLOG_TraditionalFileFormat")
  action(type="omfile" name="act_all" file="{out}/all" template="tstr")
}}
input(type="imfile" file="{inp}/*" ruleset="fan")
"""


def _damage(path: str) -> None:
    """Drop the first line of the first data file under ``path``."""
    for root, _dirs, names in sorted(os.walk(path)):
        for name in sorted(names):
            if name.startswith((".", "_")):
                continue
            p = os.path.join(root, name)
            with open(p) as f:
                lines = f.readlines()
            if lines:
                with open(p, "w") as f:
                    f.writelines(lines[1:])
                return


class _ConfigWorkload(Workload):
    lines = 0
    smoke_lines = 2000

    def build(self, spark) -> None:
        n = self.smoke_lines if self.smoke else self.lines
        self.corpus = corpus.syslog_corpus(self._fresh_dir("input"), n,
                                           self.seed)
        self.records = n
        self.out = os.path.join(self.work, "out")
        self.conf = self._conf()

    def _conf(self) -> str:
        raise NotImplementedError

    def before_pass(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def ops(self, spark) -> list[Op]:
        from rsyslog_spark.config.runtime import run_config_batch

        return [Op(self.name, lambda _: run_config_batch(spark, self.conf))]


class Relay(_ConfigWorkload):
    """Raw lines → one omfile action in the traditional file format
    (the ``tools/relay_bench.py`` config)."""
    name = "relay"
    lines = 200_000

    def _conf(self) -> str:
        from tools.relay_bench import CONF

        return CONF.format(out=self.out, inp=self.corpus.path)

    def check(self, op: str, run) -> list[str]:
        if self.corrupt:
            _damage(self.out)
        got = corpus.output_checksum(self.out)
        want = self.corpus.traditional
        if got != want:
            return [f"relay output (lines, checksum) {got} != {want}"]
        return []


class Fanout(_ConfigWorkload):
    """A ruleset with a prifilt test, a property filter and a ``set $!``
    before three omfile actions (jsonf list, traditional and string
    templates), a dyn_stats bucket and impstats loaded."""
    name = "fanout"
    lines = 100_000

    def _conf(self) -> str:
        return FANOUT_CONF.format(out=self.out, inp=self.corpus.path,
                                  work=self.work,
                                  prefix=corpus.FANOUT_PROG_PREFIX)

    def check(self, op: str, run) -> list[str]:
        if self.corrupt:
            _damage(os.path.join(self.out, "warn"))
        problems = []
        for action, want in self.corpus.fanout_counts.items():
            sub = action.split("_", 1)[1]
            got = corpus.output_checksum(os.path.join(self.out, sub))[0]
            if got != want:
                problems.append(f"{action}: {got} rows written, want {want}")
            processed = run.action_stats.get(action, {}).get("processed")
            if processed != want:
                problems.append(f"{action}: impstats processed="
                                f"{processed}, want {want}")
        return problems


# --------------------------------------------------------------------
# registered queries

#: the query_mix set and the tables each query reads; the seed fixes
#: the order of each run
QUERY_MIX = {
    "flagship_parse_route": ("events",),
    "rfc5424_roundtrip_fields": ("events",),
    "scalar_battery": ("events",),
    "template_render": ("events",),
    "property_replacer_battery": ("events",),
    "lookup_battery": ("customer", "events", "nation", "region"),
    "mmnormalize_extract": ("events",),
    "dynstats_hourly": ("events",),
    "sendertrack_ratelimit": ("events",),
    "top_revenue_orders": ("customer", "lineitem", "orders"),
    "omfile_dynafile_zip": ("events",),
    "tls_peer_wildcard_matrix": ("events",),
}
#: the document-curation queries: the connected-components loops and
#: the other dedup operators take ~60% of a pass that also holds
#: ``QUERY_MIX``, so they run as a workload of their own
DEDUP = {
    "minhash_lsh_dedup": ("documents",),
    "dedup_components": ("documents",),
    "semantic_dedup": ("embeddings",),
    "lm_perplexity_filter": ("documents",),
}
SNARE = {"mmsnareparse_win_event": ("events",)}

#: the repo's deterministic test tables (TESTDATA.md, seed 42), the
#: ones the queries read, copied into ``data/`` so a run reads only
#: its checkout; read-only
TABLES = ("region nation customer orders lineitem events documents "
          "embeddings").split()
SF, SMOKE_SF = "sf0.01", "sf0.001"


def result_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result, rendered the way the
    repo's DuckDB correctness gate compares values."""
    from tools.check_correctness import rows_key

    h = hashlib.sha256("\x1e".join(sorted(columns)).encode())
    for row in rows_key([tuple(r) for r in rows], columns):
        h.update(b"\n" + "\x1f".join(row).encode())
    return h.hexdigest()


class _QueryWorkload(Workload):
    queries: dict[str, tuple[str, ...]] = {}

    def build(self, spark) -> None:
        """Read every table the queries use once through
        ``queries.load``: a fresh scan cache directory makes it split
        the fact tables again."""
        from rsyslog_spark.queries import collect_all, load
        import pyarrow.parquet as pq

        self.sf = SMOKE_SF if self.smoke else SF
        self.sf_dir = os.path.join(DATA, self.sf)
        os.environ["RSYSLOG_SPARK_SCAN_CACHE"] = self._fresh_dir("scan")
        tables = sorted({t for ts in self.queries.values() for t in ts})
        for t in tables:
            load(spark, self.sf_dir, t)
        rows = {t: pq.ParquetFile(os.path.join(self.sf_dir, f"{t}.parquet"))
                .metadata.num_rows for t in tables}
        self.records = sum(rows[t] for ts in self.queries.values()
                           for t in ts)
        self.order = list(self.queries)
        random.Random(self.seed).shuffle(self.order)
        with open(EXPECTED_HASHES) as f:
            self.expected = json.load(f)[self.sf]
        self.registry = collect_all()

    def ops(self, spark) -> list[Op]:
        def op(name: str) -> Op:
            fn = self.registry[name].spark
            return Op(name, lambda df: (df.columns, df.collect()),
                      lambda: fn(spark, self.sf_dir))
        return [op(n) for n in self.order]

    def check(self, op: str, result) -> list[str]:
        columns, rows = result
        if self.corrupt:
            rows = rows[1:]
        got = result_hash(columns, rows)
        want = self.expected.get(op)
        if got != want:
            return [f"{op}: result hash {got[:12]} != oracle {str(want)[:12]}"]
        return []


class QueryMix(_QueryWorkload):
    """Twelve registered queries over the sf0.01 tables, one
    long-lived session, in a seeded order."""
    name = "query_mix"
    queries = QUERY_MIX


class Dedup(_QueryWorkload):
    """The four document-curation queries, two of them built on the
    connected-components loop, in a seeded order."""
    name = "dedup"
    queries = DEDUP


class SnareParse(_QueryWorkload):
    """``mmsnareparse_win_event`` alone: the registry's most expensive
    query would hide every other layer inside ``query_mix``."""
    name = "snare_parse"
    queries = SNARE


WORKLOADS = {w.name: w
             for w in (Relay, Fanout, QueryMix, Dedup, SnareParse)}


def regen_hashes() -> dict:
    """Expected result hashes of the query workloads, from each query's
    DuckDB ``oracle_sql`` over the tables in ``data/``."""
    import duckdb

    from rsyslog_spark.queries import collect_all

    registry = collect_all()
    out = {}
    for sf in (SF, SMOKE_SF):
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(DATA, sf, t)}.parquet'")
        hashes = {}
        for name in {**QUERY_MIX, **DEDUP, **SNARE}:
            res = con.execute(registry[name].oracle)
            cols = [c[0] for c in res.description]
            hashes[name] = result_hash(cols, res.fetchall())
        con.close()
        out[sf] = hashes
    return out
