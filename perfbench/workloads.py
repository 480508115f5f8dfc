"""The benchmark's workloads.

Each workload stages its inputs (:meth:`stage`), then runs ops one at a
time in a closed loop (:meth:`op`): one client, the next op starts when
the previous one has returned.  ``op`` times only the call into the
library; the output check runs after the clock has stopped.  In the
traced run, :meth:`probe` adds the layer measurements that are not ops,
and :meth:`layer_metrics` turns spans and the event log into per-layer
numbers.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass

from jsonld_ex_spark.operators.graph_paths import RDF_NS
from jsonld_ex_spark.sources.transcripts import VOCAB
from perfbench import inputs
from perfbench.oracle import Oracle, render, snapshot_fingerprint, snapshot_rows
from perfbench.trace import JobGroup, Tracer, median

# op ids of probe spans start here, apart from the op loop's ids
PROBE_ID = 1_000_000


@dataclass
class Sample:
    kind: str
    seconds: float
    ok: bool


def dir_files(path: str) -> tuple[int, int]:
    """(parquet files, bytes of all files) under ``path``."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            size += os.path.getsize(os.path.join(dirpath, name))
            files += name.endswith(".parquet")
    return files, size


def _op_groups(groups: dict[tuple[str, int], JobGroup], op_ids) -> dict[int, list[JobGroup]]:
    wanted = set(op_ids)
    out: dict[int, list[JobGroup]] = {i: [] for i in wanted}
    for (_, op), g in groups.items():
        if op in wanted:
            out[op].append(g)
    return out


def _span_groups(groups, tracer: Tracer, name: str) -> list[list[JobGroup]]:
    """Event-log groups of each ``name`` span, nested spans included."""
    per_op = _op_groups(groups, [s.op_id for s in tracer.find(name)])
    return [per_op[s.op_id] for s in tracer.find(name)]


def _stage_totals(groups_per_span: list[list[JobGroup]]) -> dict[str, float]:
    """Median per span of jobs, tasks and shuffle bytes written."""
    return {
        "jobs": median(sum(g.jobs for g in gs) for gs in groups_per_span),
        "tasks": median(sum(g.tasks for g in gs) for gs in groups_per_span),
        "shuffle_bytes": median(
            sum(g.shuffle_write_bytes for g in gs) for gs in groups_per_span
        ),
    }


def _commit_seconds(groups, tracer: Tracer, name: str) -> float:
    """Median time from an op's last Spark job to the end of its span:
    the snapshot table's metadata commit after the data write."""
    per_op = _op_groups(groups, [s.op_id for s in tracer.find(name)])
    return median(
        s.end - max(g.last_job_end for g in per_op[s.op_id])
        for s in tracer.find(name) if per_op[s.op_id]
    )


class Workload:
    name = ""
    rows = 0
    # throughput_per_s counts this much work per op
    work_per_op = 1
    ops_per_cycle = 1
    warmup_cycles = 0
    # fewest cycles a measured window holds, however fast the ops are
    min_cycles = 1
    # op kinds in one cycle, to weight per-kind medians
    cycle_mix: dict[str, int] = {}

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = Tracer()
        self.sf_dir = os.path.join(work, "input")

    def bind(self, spark, tracer: Tracer) -> None:
        """Continue on a new session (the traced run restarts Spark)."""
        self.spark = spark
        self.tracer = tracer

    @property
    def warmup_ops(self) -> int:
        return self.warmup_cycles * self.ops_per_cycle

    def stage(self) -> None:
        raise NotImplementedError

    def op(self, i: int, check: bool) -> Sample:
        raise NotImplementedError

    def probe(self) -> bool:
        """Extra layer measurements of the traced run; False if a check failed."""
        return True

    def layer_metrics(self, groups, tracer: Tracer, op_ids: list[int]) -> dict[str, float]:
        """Per-layer numbers from the traced window's spans and event log."""
        return {}


class Build(Workload):
    """Batch KG construction: transcripts -> triples -> snapshot commit."""

    name = "build"
    rows = 30_000
    work_per_op = rows  # turns committed
    warmup_cycles = 3
    min_cycles = 3
    cycle_mix = {"build": 1}

    def stage(self) -> None:
        inputs.write_lineitem(self.sf_dir, self.seed, self.rows)
        oracle = Oracle(self.sf_dir)
        try:
            self.expected = oracle.triples_fingerprint()
        finally:
            oracle.close()
        self.written: dict[int, tuple[int, int]] = {}

    def _triples(self):
        from jsonld_ex_spark.operators.kg_pipeline import conversation_triples
        from jsonld_ex_spark.sources.transcripts import transcripts_df

        return conversation_triples(transcripts_df(self.spark, self.sf_dir))

    def op(self, i: int, check: bool) -> Sample:
        from jsonld_ex_spark.sources.snapshot_table import write_triples_snapshot

        table = os.path.join(self.work, "tables", f"build-{i}")
        t0 = time.perf_counter()
        with self.tracer.span("build.op", i):
            write_triples_snapshot(self._triples(), table)
        seconds = time.perf_counter() - t0
        ok = True
        if check:
            ok = snapshot_fingerprint(table) == self.expected
        if self.tracer.enabled:
            self.written[i] = dir_files(os.path.join(table, "data"))
        shutil.rmtree(table)
        return Sample("build", seconds, ok)

    def probe(self) -> bool:
        """Noop-sink runs of the pipeline's prefixes, then the JSON-LD
        algorithms in this process, one thread, over the same documents."""
        from pyspark.sql import functions as F

        from jsonld_ex_spark.operators.kg_pipeline import assemble_conversations
        from jsonld_ex_spark.sources.transcripts import transcripts_df

        def transcripts():
            return transcripts_df(self.spark, self.sf_dir)

        def assembled():
            return assemble_conversations(transcripts()).select(
                "conv_id", F.to_json("turns").alias("turns_json")
            )

        prefixes = {
            "prefix.transcripts": transcripts,
            "prefix.assembled": assembled,
            "prefix.triples": self._triples,
        }
        op_id = PROBE_ID
        for _ in range(2):
            for name, plan in prefixes.items():
                with self.tracer.span(name, op_id):
                    plan().write.format("noop").mode("overwrite").save()
                op_id += 1
        docs = assembled().toPandas()
        self.core = _core_profile(docs)
        return True

    def layer_metrics(self, groups, tracer: Tracer, op_ids: list[int]) -> dict[str, float]:
        from perfbench.session import cores

        tr = tracer
        scan = median(tr.seconds("prefix.transcripts"))
        assembled = median(tr.seconds("prefix.assembled"))
        triples = median(tr.seconds("prefix.triples"))
        op = median(tr.seconds("build.op"))
        kernel_s = max(triples - assembled, 0.0)
        per_op = _op_groups(groups, op_ids)
        python = [
            [g for g in per_op[i] if g.python_task_seconds] for i in op_ids
        ]
        task_secs = [sorted(t for g in gs for t in g.python_task_seconds) for gs in python]

        def py(key):
            return median(sum(g.python.get(key, 0.0) for g in gs) for gs in python)

        core = self.core
        return {
            "transcripts.scan_s": scan,
            "kg_pipeline.assemble_s": max(assembled - scan, 0.0),
            "kg_pipeline.assemble_shuffle_bytes": median(
                sum(g.shuffle_write_bytes for g in gs)
                for gs in _span_groups(groups, tr, "prefix.assembled")
            ),
            "kg_pipeline.kernel_s": kernel_s,
            "kg_pipeline.kernel_tasks": median(len(t) for t in task_secs),
            "kg_pipeline.kernel_task_max_over_median": median(
                t[-1] / median(t) for t in task_secs if t and median(t) > 0
            ),
            "kg_pipeline.python_total_s": py("total_s"),
            "kg_pipeline.python_boot_s": py("boot_s"),
            "kg_pipeline.python_init_s": py("init_s"),
            "kg_pipeline.bytes_to_python": py("bytes_to_python"),
            "kg_pipeline.bytes_from_python": py("bytes_from_python"),
            "kg_pipeline.rows_from_python": py("rows_from_python"),
            "kg_pipeline.kernel_overhead_ratio": kernel_s * cores() / core["total_s"],
            "core.expand_s": core["expand_s"],
            "core.node_map_s": core["node_map_s"],
            "core.to_rdf_s": core["to_rdf_s"],
            "core.rows_s": core["rows_s"],
            "core.docs_per_s": core["docs"] / core["total_s"],
            "triples.sink_s": max(op - triples, 0.0),
            "triples.bytes_written": median(self.written[i][1] for i in op_ids),
            "triples.files_written": median(self.written[i][0] for i in op_ids),
            "snapshot_table.commit_s": _commit_seconds(groups, tr, "build.op"),
        }


def _core_profile(docs) -> dict[str, float]:
    """Time expand, node map and toRdf per document in this process, and
    the whole per-document row function, over the kernel's own input
    (the assembled ``turns_json`` of every conversation)."""
    import json

    from jsonld_ex_spark.core.context import Context, Options, process_context
    from jsonld_ex_spark.core.expansion import expand
    from jsonld_ex_spark.core.flattening import BlankNodeGenerator, node_map
    from jsonld_ex_spark.core.to_rdf import to_rdf_from_node_map
    from jsonld_ex_spark.operators.kg_pipeline import (
        CONV_CONTEXT,
        build_conversation_doc,
        doc_to_triple_rows,
    )

    options = Options()
    active = process_context(Context(), CONV_CONTEXT, options)
    built = []
    for conv_id, turns_json in zip(docs["conv_id"], docs["turns_json"]):
        turns = [
            {
                "turn_idx": int(t["turn_idx"]), "role": t.get("role"),
                "text": t.get("text", ""), "tool": t.get("tool"),
                "ts": t.get("ts_str"), "mentions": t.get("mentions") or [],
            }
            for t in json.loads(turns_json)
        ]
        built.append((conv_id, build_conversation_doc(conv_id, turns)))
    # per document: the three algorithms one by one, and the whole row
    # function; which goes first alternates, so cache warmth favours
    # neither side of the difference that gives rows_s
    clock = time.perf_counter
    expand_s = node_map_s = to_rdf_s = total_s = 0.0
    for n, (conv_id, doc) in enumerate(built):
        for step in ((0, 1) if n % 2 else (1, 0)):
            if step:
                t0 = clock()
                doc_to_triple_rows(conv_id, doc, active, options)
                total_s += clock() - t0
                continue
            t0 = clock()
            expanded = expand(active, None, doc, options)
            t1 = clock()
            generator = BlankNodeGenerator(skolem_prefix=f"{conv_id}.")
            nm = node_map(expanded, generator)
            t2 = clock()
            to_rdf_from_node_map(nm, options, generator)
            t3 = clock()
            expand_s += t1 - t0
            node_map_s += t2 - t1
            to_rdf_s += t3 - t2
    return {
        "docs": float(len(built)),
        "expand_s": expand_s,
        "node_map_s": node_map_s,
        "to_rdf_s": to_rdf_s,
        "rows_s": max(total_s - expand_s - node_map_s - to_rdf_s, 0.0),
        "total_s": total_s,
    }


class GraphRW(Workload):
    """SPARQL reads and updates over a committed triple snapshot."""

    name = "graph_rw"
    rows = 20_000
    ops_per_cycle = 7
    warmup_cycles = 2
    min_cycles = 2
    cycle_mix = {"read": 5, "insert": 1, "delete": 1}

    def stage(self) -> None:
        from jsonld_ex_spark.plans import oracles
        from jsonld_ex_spark.sources.snapshot_table import write_triples_snapshot

        self.texts = [
            oracles.SPARQL_TEXT_MENTIONS,
            oracles.SPARQL_TEXT_ENTITY_STATS,
            oracles.SPARQL_TEXT_PATH_EDGES,
            oracles.SPARQL_TEXT_OPTIONAL_TOOLS,
            oracles.SPARQL_TEXT_UNION_STATS,
        ]
        inputs.write_lineitem(self.sf_dir, self.seed, self.rows)
        oracle = Oracle(self.sf_dir)
        staged = os.path.join(self.work, "oracle-triples.parquet")
        try:
            oracle.write_triples(staged)
            self.base_rows = oracle.triples_fingerprint()[0]
            self.expected = [oracle.sparql_rows(t) for t in self.texts]
        finally:
            oracle.close()
        # the graph is the oracle's triples, committed through the same
        # subject-bucketed snapshot sink the pipeline's output goes through
        self.table = os.path.join(self.work, "tables", "graph")
        write_triples_snapshot(self.spark.read.parquet(staged), self.table)
        self.rewritten: list[int] = []
        self.written: list[tuple[int, int]] = []

    def _cycle(self, cycle: int) -> list[str]:
        """The seed's op order for one cycle: each read once, one insert
        and one delete of the same triple, the insert first."""
        kinds = [f"read{k}" for k in range(len(self.texts))] + ["insert", "delete"]
        random.Random(self.seed * 100_003 + cycle).shuffle(kinds)
        a, b = kinds.index("insert"), kinds.index("delete")
        if a > b:
            kinds[a], kinds[b] = kinds[b], kinds[a]
        return kinds

    def _triple(self, cycle: int) -> str:
        return f'<urn:perfbench:{self.seed}:{cycle}> <{VOCAB}tag> "s{self.seed}-c{cycle}"'

    def op(self, i: int, check: bool) -> Sample:
        from jsonld_ex_spark.operators.sparql_text import (
            parse_sparql,
            run_sparql_update,
            sparql_query,
        )
        from jsonld_ex_spark.sources.snapshot_table import read_snapshot, snapshots

        cycle = i // self.ops_per_cycle
        kind = self._cycle(cycle)[i % self.ops_per_cycle]
        tr = self.tracer
        ok = True
        if kind.startswith("read"):
            text = self.texts[int(kind[4:])]
            t0 = time.perf_counter()
            with tr.span("graph_rw.read", i):
                if tr.enabled:
                    with tr.span("sparql_text.parse", i):
                        parse_sparql(text)
                with tr.span("bgp.plan", i):
                    df = sparql_query(read_snapshot(self.spark, self.table), text)
                with tr.span("bgp.exec", i):
                    rows = df.collect()
            seconds = time.perf_counter() - t0
            if check:
                ok = render(rows) == self.expected[int(kind[4:])]
            return Sample("read", seconds, ok)
        verb = "INSERT" if kind == "insert" else "DELETE"
        t0 = time.perf_counter()
        with tr.span(f"graph_update.{kind}", i):
            run_sparql_update(self.spark, self.table, f"{verb} DATA {{ {self._triple(cycle)} }}")
        seconds = time.perf_counter() - t0
        if check:
            ok = snapshot_rows(self.table) == self.base_rows + (kind == "insert")
        if tr.enabled and kind == "delete":
            # an overwrite commit: the new snapshot is the one directory
            # the delete rewrote
            (new_dir,) = snapshots(self.table)[-1]["files"]
            self.rewritten.append(snapshot_rows(self.table))
            self.written.append(dir_files(os.path.join(self.table, new_dir)))
        return Sample(kind, seconds, ok)

    def probe(self) -> bool:
        """One chain walk and one path closure over the same snapshot
        (the graph_paths and property_paths layers); the two must give
        the same (list owner, member) pairs, one per turn."""
        from pyspark.sql import functions as F

        from jsonld_ex_spark.operators.graph_paths import chain_positions
        from jsonld_ex_spark.operators.property_paths import eval_path
        from jsonld_ex_spark.sources.snapshot_table import read_snapshot

        triples = read_snapshot(self.spark, self.table)
        heads = triples.filter(F.col("pred") == f"{VOCAB}turns").select(
            F.col("subj").alias("head"), F.col("obj").alias("cell")
        )
        longest = triples.filter(F.col("pred") == f"{VOCAB}turn_idx").agg(
            F.max(F.col("obj").cast("long"))
        ).first()[0] + 1
        with self.tracer.span("graph_paths.chain", PROBE_ID):
            chain = chain_positions(triples, heads, known_max_length=longest)
            n_chain = chain.count()
        with self.tracer.span("property_paths.closure", PROBE_ID + 1):
            closure = eval_path(
                triples,
                ("seq", f"<{VOCAB}turns>", ("star", f"<{RDF_NS}rest>"), f"<{RDF_NS}first>"),
            )
            n_closure = closure.count()
        pairs = chain.select(F.col("head").alias("s"), F.col("member").alias("o"))
        return (
            n_chain == n_closure == self.rows
            and pairs.exceptAll(closure).count() == 0
            and closure.exceptAll(pairs).count() == 0
        )

    def layer_metrics(self, groups, tracer: Tracer, op_ids: list[int]) -> dict[str, float]:
        from jsonld_ex_spark.sources.snapshot_table import snapshots

        tr = tracer
        reads = _span_groups(groups, tr, "graph_rw.read")
        chain = _stage_totals(_span_groups(groups, tr, "graph_paths.chain"))
        closure = _stage_totals(_span_groups(groups, tr, "property_paths.closure"))
        current_files = sum(
            dir_files(os.path.join(self.table, d))[0]
            for d in snapshots(self.table)[-1]["files"]
        )
        return {
            "sparql_text.parse_s": median(tr.seconds("sparql_text.parse")),
            "bgp.plan_s": median(tr.seconds("bgp.plan")),
            "bgp.exec_s": median(tr.seconds("bgp.exec")),
            "bgp.jobs_per_read": median(sum(g.jobs for g in gs) for gs in reads),
            "bgp.shuffle_bytes_per_read": median(
                sum(g.shuffle_write_bytes for g in gs) for gs in reads
            ),
            "graph_update.insert_s": median(tr.seconds("graph_update.insert")),
            "graph_update.delete_s": median(tr.seconds("graph_update.delete")),
            "graph_update.rows_rewritten_per_delete": median(self.rewritten),
            "snapshot_table.commit_s": _commit_seconds(groups, tr, "graph_update.delete"),
            "snapshot_table.files_per_read": float(current_files),
            "snapshot_table.bytes_on_disk": float(dir_files(self.table)[1]),
            "triples.bytes_written": median(w[1] for w in self.written),
            "triples.files_written": median(w[0] for w in self.written),
            "graph_paths.chain_s": median(tr.seconds("graph_paths.chain")),
            "graph_paths.jobs": chain["jobs"],
            "graph_paths.tasks": chain["tasks"],
            "graph_paths.shuffle_bytes": chain["shuffle_bytes"],
            "property_paths.closure_s": median(tr.seconds("property_paths.closure")),
            "property_paths.jobs": closure["jobs"],
            "property_paths.tasks": closure["tasks"],
            "property_paths.shuffle_bytes": closure["shuffle_bytes"],
        }


WORKLOADS = {w.name: w for w in (Build, GraphRW)}
