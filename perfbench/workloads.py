"""Seeded request sequences of the two workloads.

A sequence is a list of ``Op``s. The seed picks every parameter (ids,
datasets, thresholds, declared payloads); the template order is fixed,
so two seeds send the same mix with different values. Each read op
carries either an oracle spec (resolved by DuckDB, see oracle.py) or
an expectation computed here from the benchmark's own model of the
writes it sent.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass
from typing import Optional
from urllib.parse import urlencode

import pyarrow.parquet as pq

from perfbench.oracle import (ACTIVE, ADLER32, FILE_FIELDS, files_where,
                              ids_where, member, rows_expectation)

DUNE = [f"{w}_{b}" for w in ("urgent", "high", "medium", "notspec", "low")
        for b in range(4)]
FLAGS = ["r", "a", "n"]
VARIANTS = 2            # measured parameter sets per interactive template
BATCH = 100             # declare_and_query: files per declare
UPDATED_RUN = 20000     # core.run the updated declared file is given
# interactive_mql's template order; cheap and expensive ones alternate
ROTATION = ["point_lookup", "bulk_listing_meta", "predicate_bfq",
            "subsets_recursive", "skip_limit", "corpus_analyze",
            "summary_count", "set_minus", "after_id_page", "named_query",
            "filter_hash", "parents", "corpus_dedup_exact"]


@dataclass
class Op:
    kind: str                       # "read" | "write"
    template: str
    path: str
    body: Optional[bytes] = None    # POST when not None
    stream: bool = False            # json-seq response
    oracle: Optional[dict] = None   # DuckDB spec, resolved at setup
    expect: Optional[dict] = None   # expectation (model or resolved)


def query_path(mql: str, **params) -> str:
    return "/data/query?" + urlencode(dict(query=mql, **params))


def file_ids(data_dir: str) -> list[str]:
    """The id of every catalog file, in the FILE_ID format of
    metacat_spark.fixtures."""
    t = pq.read_table(f"{data_dir}/lineitem.parquet",
                      columns=["l_orderkey", "l_linenumber", "l_partkey",
                               "l_suppkey"]).to_pydict()
    return [f"f{o:09d}{ln}{p:07d}{s:05d}"
            for o, ln, p, s in zip(t["l_orderkey"], t["l_linenumber"],
                                   t["l_partkey"], t["l_suppkey"])]


def _rows(sql: str) -> dict:
    return {"mode": "rows", "sql": sql}


# ------------------------------------------------------- interactive_mql

def _interactive_templates(rng: random.Random, ids: list) -> list:
    """One instance of every template, in ROTATION order."""
    fid = rng.choice(ids)
    d, d2 = rng.sample(DUNE, 2)
    f = rng.choice(FLAGS)
    r = rng.randrange(200, 300)
    a = rng.randrange(0, 450)
    k = rng.randrange(4)
    skip = rng.randrange(0, 150)
    # a cursor in the first half of the id order, so every page is full
    after = rng.choice(sorted(ids)[:len(ids) // 2])
    # a dataset without subsets in fixtures.DS_EDGE_ROWS: the closure
    # loop runs once, so every seed pays the same translation shape
    leaf = rng.choice([n for n in DUNE if n not in ("low_0", "low_1")])
    ops = [
        Op("read", "point_lookup", "/data/file?fid=" + fid,
           oracle={"mode": "file", "sql": files_where(f"id = '{fid}'")}),
        Op("read", "predicate_bfq", query_path(
            f"files from dune:{d} where core.run > {r} "
            "and core.x <= 0.5"), stream=True,
           oracle=_rows(files_where(
               f"{ACTIVE} and {member('dune', d)} and m_core_run > {r} "
               "and m_core_x <= 0.5"))),
        Op("read", "corpus_analyze", "/data/corpus?op=analyze",
           stream=True,
           oracle={"mode": "docs", "fields": ["doc_id", "n_chars"],
                   "sql": "select doc_id, length(text) as n_chars "
                          "from documents"}),
        Op("read", "skip_limit", query_path(
            f"files from dune:{d} skip {skip} limit 50"), stream=True,
           oracle=_rows(files_where(
               f"{ACTIVE} and {member('dune', d)}",
               f"order by id limit 50 offset {skip}"))),
        Op("read", "set_minus", query_path(
            f"files from mc:flag_{f} where core.run < {r} "
            f"- files from dune:{d2}"), stream=True,
           oracle=_rows(files_where(
               f"{ACTIVE} and {member('mc', 'flag_' + f)} "
               f"and m_core_run < {r} and not {member('dune', d2)}"))),
        Op("read", "summary_count", query_path(
            f"files from dune:{d} where core.good = true",
            summary="count"),
           oracle={"mode": "count", "sql": files_where(
               f"{ACTIVE} and {member('dune', d)} and m_core_good")}),
        Op("read", "parents", query_path(
            f"parents(files from dune:{d} where core.run in "
            f"{a}:{a + 30})"), stream=True,
           oracle=_rows(files_where(
               "id in (select parent_id from parent_child where "
               "child_id in (" + ids_where(
                   f"{ACTIVE} and {member('dune', d)} and m_core_run "
                   f"between {a} and {a + 30}") + "))"))),
        Op("read", "after_id_page", query_path(
            f"files from mc:flag_{f}", after_id=after, page_size=100),
           stream=True,
           oracle=_rows(files_where(
               f"{ACTIVE} and {member('mc', 'flag_' + f)} "
               f"and id > '{after}'", "order by id limit 100"))),
        Op("read", "subsets_recursive", query_path(
            f"files from dune:{leaf} with subsets recursively "
            f"where core.run < {r}"), stream=True,
           oracle=_rows(files_where(
               f"{ACTIVE} and {member('dune', leaf)} "
               f"and m_core_run < {r}"))),
        Op("read", "named_query", query_path(
            "files selected by dune:favorite_x"), stream=True,
           oracle=_rows(files_where(
               f"{ACTIVE} and {member('dune', 'urgent_0')} "
               "and m_core_x > 0.5"))),
        Op("read", "corpus_dedup_exact",
           "/data/corpus?op=dedup&method=exact", stream=True,
           oracle={"mode": "docs", "fields": ["doc_id"],
                   "sql": "select doc_id from documents where doc_id in "
                          "(select min(doc_id) from documents "
                          "group by md5(text))"}),
        Op("read", "filter_hash", query_path(
            f"filter hash(4, {k})(files from dune:{d})"), stream=True,
           oracle=_rows(files_where(
               f"{ACTIVE} and {member('dune', d)} "
               f"and {ADLER32.format(c='id')} % 4 = {k}"))),
        Op("read", "bulk_listing_meta", query_path(
            f"files from mc:flag_{f}", with_meta="yes"), stream=True,
           oracle=_rows(files_where(
               f"{ACTIVE} and {member('mc', 'flag_' + f)}"))),
    ]
    by_name = {op.template: op for op in ops}
    return [by_name[t] for t in ROTATION]


def interactive_mql(seed: int, data_dir: str) -> dict:
    """``warmup``: one instance of every template; ``passes``: VARIANTS
    more rotations, the measured window (see run.measure_loop). A pass
    is half a rotation, about 5 s, so that re-sending one the host's
    steal spoiled costs little."""
    rng = random.Random(seed)
    ids = file_ids(data_dir)
    variants = [_interactive_templates(rng, ids)
                for _ in range(VARIANTS + 1)]
    half = (len(ROTATION) + 1) // 2
    return {"warmup": variants[0],
            "passes": [v[i:i + half] for v in variants[1:]
                       for i in (0, half)]}


# ----------------------------------------------------- declare_and_query

def _rows_expect(records) -> dict:
    return rows_expectation(list(records), FILE_FIELDS)


def _count_expect(records) -> dict:
    records = list(records)
    return {"mode": "count", "count": len(records),
            "total_size": sum(r["size"] for r in records)}


def declare_and_query(seed: int, data_dir: str) -> dict:
    """A fixed sequence of writes (declare BATCH files, update one's
    metadata, add some to a dataset, retire one), each followed by a read
    that selects what it wrote. Declared files carry a core.run value >=
    1000, which no base file has, so the reads select exactly the
    declared files; their expectations come from a model of the
    acknowledged writes, and the parents of declared files (base files)
    from DuckDB.

    Returns ``sequence`` (the writes and their read-after-write checks),
    ``passes`` (one pass of reads of the final model, replayed as the
    measured window), ``verify`` (reads of the final model that prove
    every acknowledged write survived a restart) and the byte count of
    the declared payload."""
    rng = random.Random(seed)
    ids = file_ids(data_dir)
    run = rng.randrange(1000, 10000)
    rows = []
    for i in range(BATCH):
        meta = {"core.run": run, "core.x": round(rng.random(), 3),
                "core.good": rng.random() < 0.6,
                "core.data_type": rng.choice(["mc", "data"])}
        rec = {"id": f"b{seed}n{i:04d}", "namespace": "test",
               "name": f"bench_{seed}_{i}.data",
               "size": rng.randrange(1000, 10**7), "metadata": meta}
        if rng.random() < 0.3:
            rec["parents"] = [rng.choice(ids)]
        rows.append(rec)
    body = json.dumps(rows).encode()
    declared = {r["id"]: dict(r, retired=False) for r in rows}

    def active(pred=lambda r: True):
        return [r for r in declared.values()
                if not r["retired"] and pred(r)]

    def count_run():
        return Op("read", "count_declared_run", query_path(
            f"files where core.run = {run}", summary="count"),
            expect=_count_expect(active(
                lambda r: r["metadata"]["core.run"] == run)))

    def select_declared():
        return Op("read", "select_declared", query_path(
            "files where core.run >= 1000"), stream=True,
            expect=_rows_expect(active()))

    def select_added():
        return Op("read", "select_added", query_path(
            "files from test:all where core.run >= 1000"), stream=True,
            expect=_rows_expect(active(lambda r: r["id"] in added)))

    def parents_of_run():
        parents = sorted({p for r in active(
            lambda r: r["metadata"]["core.run"] == run)
            for p in r.get("parents", [])})
        cond = ("id in (" + ", ".join(f"'{p}'" for p in parents) + ")"
                if parents else "false")
        return Op("read", "parents_of_declared", query_path(
            f"parents(files where core.run = {run})"), stream=True,
            oracle=_rows(files_where(cond)))

    def point_updated():
        return Op("read", "point_updated", f"/data/file?fid={upd}",
                  expect={"mode": "file_meta", "id": upd,
                          "core.run": UPDATED_RUN})

    seq = [Op("write", "declare", "/data/declare_files", body=body),
           count_run()]

    upd = rng.choice(rows)["id"]
    seq.append(Op("write", "update_file_meta",
                  f"/data/update_file_meta?fid={upd}",
                  body=json.dumps({"metadata": {"core.run": UPDATED_RUN},
                                   "mode": "update"}).encode()))
    declared[upd]["metadata"] = dict(declared[upd]["metadata"],
                                     **{"core.run": UPDATED_RUN})
    seq.append(point_updated())

    added = {r["id"] for r in rng.sample(rows, 20)}
    seq.append(Op("write", "add_files", "/data/add_files?dataset=test:all",
                  body=json.dumps(sorted(added)).encode()))
    seq.append(select_added())

    ret = rng.choice([r["id"] for r in rows if r["id"] != upd])
    seq.append(Op("write", "retire", f"/data/retire_file?fid={ret}",
                  body=b""))
    declared[ret]["retired"] = True
    seq += [select_declared(), parents_of_run()]

    verify = [Op("read", "verify_declared", query_path(
        "files where core.run >= 1000", include_retired_files="yes"),
        stream=True, expect=_rows_expect(declared.values())),
        select_declared(), select_added(), point_updated()]
    read_pass = [select_declared(), select_added(), count_run(),
                 parents_of_run(), point_updated()]
    return {"sequence": seq, "verify": verify, "passes": [read_pass],
            "payload_bytes": len(body)}


WORKLOADS = {"interactive_mql": interactive_mql,
             "declare_and_query": declare_and_query}
