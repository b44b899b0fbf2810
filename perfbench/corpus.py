"""Seeded sheet corpus, edit plans and the pure-Python expected-output model.

The corpus is what a user's Drive would hand the engine: spreadsheets with
one or more tabs, ragged rows, space-padded cells, cells longer than the
warehouse's 100-char width, title rows above the header, and column
mappings that mix header names with 0-based indexes. Several tabs load into
the same target table, each mapping its own subset of the table's columns.

The model restates the load semantics without Spark so the benchmark can
check every table it times: trim, header resolution, ``header_row`` /
``skip_rows``, null-padding of short rows, truncation to 100 chars, the
``_origin_*`` provenance columns and the payload fingerprint.
"""

from __future__ import annotations

import decimal
import hashlib
import json
import random
import re
from dataclasses import dataclass, field

from google_sheets_etl_spark.config import EtlJob
from google_sheets_etl_spark.sources import FixtureSheetSource, SpreadsheetMeta

CELL_WIDTH = 100
GROW_ROWS = 20  # rows a growing tab gains per edit cycle

#: target table -> ordered (column, kind); the kind is what the typed view
#: must decide for the column once every load of the table is profiled
TABLES: dict[str, list[tuple[str, str]]] = {
    "ledger": [("entry_id", "bigint"), ("amount", "decimal"),
               ("posted", "date"), ("memo", "string")],
    "contacts": [("contact_id", "bigint"), ("name", "string"),
                 ("active", "boolean"), ("note", "string")],
    "stock": [("sku", "string"), ("qty", "bigint"),
              ("price", "decimal"), ("counted", "date")],
}

_WORDS = ("alpha bravo delta echo kilo lima oscar papa romeo tango "
          "sierra victor north south east west spring autumn harbor "
          "river meadow copper silver amber").split()
_TAB_NAMES = ("Sheet1", "Q2 data", "Archive", "Import")


@dataclass
class Corpus:
    """Generated inputs: the source handed to the engine, the job list,
    and the per-job layout facts the model needs."""

    source: FixtureSheetSource
    jobs: list[EtlJob]
    #: (spreadsheet, tab) -> the column each sheet position holds (None: junk)
    layouts: dict[tuple[str, str], list[tuple[str, str] | None]]
    clock: int = 0  # seconds past the base time of the newest mtime
    big: set[str] = field(default_factory=set)  # spreadsheets with big tabs
    empty_tabs: set[tuple[str, str]] = field(default_factory=set)

    def spreadsheet_ids(self) -> list[str]:
        """Configured spreadsheets, in their original discovery order."""
        return list(dict.fromkeys(j.google_spreadsheet_id for j in self.jobs))

    def jobs_of(self, gid: str) -> list[EtlJob]:
        return [j for j in self.jobs if j.google_spreadsheet_id == gid]

    def rows(self, job: EtlJob) -> list[list[str]]:
        return self.source.sheets[(job.google_spreadsheet_id, job.sheet_name)]

    def touch(self, gid: str) -> None:
        """Advance the spreadsheet's Drive mtime past every other file."""
        self.clock += 1
        old = self.source.metas[gid]
        self.source.metas[gid] = SpreadsheetMeta(gid, _rfc3339(self.clock), old.name)


def _rfc3339(offset_s: int) -> str:
    day, rem = divmod(offset_s, 86400)
    h, rem = divmod(rem, 3600)
    m, s = divmod(rem, 60)
    return f"2024-{1 + day // 28:02d}-{1 + day % 28:02d}T{h:02d}:{m:02d}:{s:02d}Z"


def _pad(rng: random.Random, s: str) -> str:
    r = rng.random()
    if r < 0.15:
        return " " * rng.randint(1, 3) + s
    if r < 0.3:
        return s + " " * rng.randint(1, 3)
    return s


def _value(rng: random.Random, kind: str, col: str) -> str:
    if rng.random() < 0.04:
        return rng.choice(["", "  "])  # blank cells: NULL in the typed view
    if kind == "bigint":
        return str(rng.randint(2, 999_999))
    if kind == "decimal":
        return f"{rng.randint(0, 99_999)}.{rng.randint(0, 99):02d}"
    if kind == "date":
        return f"20{rng.randint(10, 29)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
    if kind == "boolean":
        return rng.choice(["true", "false"])
    n = rng.randint(2, 5)
    if col in ("memo", "note") and rng.random() < 0.2:
        n = rng.randint(18, 30)  # well past the 100-char width
    return " ".join(rng.choice(_WORDS) for _ in range(n))


def _data_row(rng: random.Random, layout: list[tuple[str, str] | None]) -> list[str]:
    row = [
        _pad(rng, _value(rng, spec[1], spec[0]) if spec else rng.choice(_WORDS))
        for spec in layout
    ]
    r = rng.random()
    if r < 0.02:
        return []  # an empty physical row inside the data block
    if r < 0.17 and len(row) > 1:
        return row[: rng.randint(1, len(row) - 1)]  # ragged: trailing cells absent
    return row


def _tab(rng: random.Random, gid: str, tab: str, table: str, n_rows: int):
    """One tab's rows and its job: the sheet's column order is shuffled,
    junk columns are mixed in, and the mapping covers a subset."""
    cols = TABLES[table]
    mapped = [cols[0]] + [c for c in cols[1:] if rng.random() < 0.8]
    layout: list[tuple[str, str] | None] = list(mapped) + [None] * rng.randint(0, 2)
    rng.shuffle(layout)
    header = [_pad(rng, spec[0]) if spec else f"extra {i}" for i, spec in enumerate(layout)]
    header_row = rng.choice([0, 0, 1, 2])
    skip_rows = header_row + 1 + (1 if rng.random() < 0.25 else 0)
    rows: list[list[str]] = [["report", f"{gid[:6]} {tab}"] for _ in range(header_row)]
    rows.append(header)
    if skip_rows > header_row + 1:
        rows.append(["units" for _ in layout])
    rows += [_data_row(rng, layout) for _ in range(n_rows)]
    mapping: dict[str, str | int] = {}
    for spec in sorted(mapped, key=lambda _: rng.random()):
        pos = layout.index(spec)
        mapping[spec[0]] = pos if rng.random() < 0.3 else spec[0]
    job = EtlJob(gid, tab, table, mapping, header_row, skip_rows)
    return rows, job, layout


def make_corpus(seed: int, tabs: tuple[int, ...], n_unconfigured: int = 0,
                big_at: tuple[int, ...] = (), big_rows: tuple[int, int] = (10_000, 20_000),
                rows: tuple[int, int] = (100, 400),
                tables: tuple[str, ...] = tuple(sorted(TABLES))) -> Corpus:
    """A seeded corpus. Spreadsheet ``i`` (in discovery order) has
    ``tabs[i]`` configured tabs, each with ``big_rows`` data rows when ``i``
    is in ``big_at`` and ``rows`` otherwise. Tab ``k`` of the whole corpus
    loads into target table ``tables[k % len(tables)]``, so the layout (and
    the work per cycle) is the same for every seed; the seed decides the
    contents. ``n_unconfigured`` more spreadsheets follow that discovery
    lists but no job loads."""
    rng = random.Random(seed)
    source = FixtureSheetSource()
    jobs: list[EtlJob] = []
    layouts = {}
    for i in range(len(tabs) + n_unconfigured):
        gid = "".join(rng.choice("ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz0123456789")
                      for _ in range(20))
        meta = SpreadsheetMeta(gid, _rfc3339(i), f"workbook {i}")
        for tab in _TAB_NAMES[:tabs[i] if i < len(tabs) else 1]:
            lo, hi = big_rows if i in big_at else rows
            tab_rows, job, layouts[(gid, tab)] = _tab(
                rng, gid, tab, tables[len(layouts) % len(tables)], rng.randint(lo, hi))
            source.put_sheet(meta, tab, tab_rows)
            if i < len(tabs):
                jobs.append(job)
    order = sorted(source.metas, key=lambda g: source.metas[g].modified_time)
    return Corpus(source, jobs, layouts, clock=len(tabs) + n_unconfigured,
                  big={order[i] for i in big_at})


# -- edit plans -------------------------------------------------------------

@dataclass(frozen=True)
class EditPlan:
    grow: tuple[str, str]    # (spreadsheet, tab) that gains rows
    empty: tuple[str, str]   # (spreadsheet, tab) reloaded to zero data rows
    touch: str               # spreadsheet whose mtime moves, content unchanged


def plan_edits(seed: int, cycle: int, corpus: Corpus) -> EditPlan:
    """Three distinct spreadsheets per cycle, chosen by role so every cycle
    does the same work: a one-tab spreadsheet grows, one tab of a multi-tab
    spreadsheet reloads to empty (its sibling tabs short-circuit on the
    hash), and a big spreadsheet is touched (mtime only, so it too
    short-circuits). Every other spreadsheet stays put."""
    rng = random.Random(f"{seed}/{cycle}")
    ids = corpus.spreadsheet_ids()
    single = [g for g in ids if g not in corpus.big and len(corpus.jobs_of(g)) == 1]
    multi = [g for g in ids if g not in corpus.big and len(corpus.jobs_of(g)) > 1]
    grow = rng.choice(single)
    tabs = corpus.jobs_of(rng.choice(multi))
    nonempty = [j for j in tabs
                if (j.google_spreadsheet_id, j.sheet_name) not in corpus.empty_tabs]
    empty = rng.choice(nonempty or tabs)
    touch = rng.choice(sorted(corpus.big))
    return EditPlan((grow, corpus.jobs_of(grow)[0].sheet_name),
                    (empty.google_spreadsheet_id, empty.sheet_name), touch)


def apply_edits(seed: int, cycle: int, corpus: Corpus, plan: EditPlan) -> dict[str, int]:
    """Mutate the source per ``plan``; return the pass counts the engine
    must report for it: loaded, skipped (hash short-circuit), unselected."""
    rng = random.Random(f"{seed}/{cycle}/rows")
    by_tab = {(j.google_spreadsheet_id, j.sheet_name): j for j in corpus.jobs}
    gjob = by_tab[plan.grow]
    new_rows = [_data_row(rng, corpus.layouts[plan.grow]) for _ in range(GROW_ROWS)]
    corpus.source.sheets[plan.grow] = corpus.rows(gjob) + new_rows
    corpus.empty_tabs.discard(plan.grow)
    ejob = by_tab[plan.empty]
    before = corpus.rows(ejob)
    corpus.source.sheets[plan.empty] = before[: ejob.skip_rows]
    changed = {plan.grow} | ({plan.empty} if len(before) > ejob.skip_rows else set())
    corpus.empty_tabs.add(plan.empty)
    gids = {plan.grow[0], plan.empty[0], plan.touch}
    for gid in sorted(gids):
        corpus.touch(gid)
    selected = [j for j in corpus.jobs if j.google_spreadsheet_id in gids]
    loaded = sum(1 for j in selected if (j.google_spreadsheet_id, j.sheet_name) in changed)
    return {"loaded": loaded, "skipped": len(selected) - loaded,
            "unselected": len(corpus.jobs) - len(selected)}


# -- the model ----------------------------------------------------------------

def payload_fingerprint(rows: list[list[str]]) -> str:
    """SHA-256 of the compact JSON of the raw (untrimmed) payload."""
    return hashlib.sha256(
        json.dumps(rows, separators=(",", ":"), ensure_ascii=False).encode()
    ).hexdigest()


_NAME_OK = re.compile(r"^[a-z_][a-z0-9_]*$")


def expected_rows(raw: list[list[str]], job: EtlJob, etl_job_id: int) -> list[dict]:
    """The rows one load of ``raw`` writes into the job's partition."""
    trimmed = [[c.strip(" ") for c in r] for r in raw]
    header = trimmed[job.header_row]
    sel = {}
    for name, spec in job.column_mapping.items():
        if not _NAME_OK.match(name):
            raise ValueError(f"model covers normalized output names only: {name!r}")
        if isinstance(spec, int):
            if not 0 <= spec < len(header):
                raise IndexError(f"Column index out of bounds: {spec}")
            sel[name] = spec
        else:
            sel[name] = header.index(spec)
    out = []
    for idx in range(job.skip_rows, len(trimmed)):
        row = trimmed[idx]
        rec = {name: (row[i][:CELL_WIDTH] if i < len(row) else None) for name, i in sel.items()}
        rec["_origin_row"] = idx - job.skip_rows
        rec["_origin_etl_job_id"] = etl_job_id
        out.append(rec)
    return out


def expected_table(corpus: Corpus, job_ids: dict[tuple[str, str], int], table: str) -> list[dict]:
    """Expected contents of ``table`` given the engine's committed job ids."""
    out: list[dict] = []
    for job in corpus.jobs:
        key = (job.google_spreadsheet_id, job.sheet_name)
        if job.target_table == table and key in job_ids:
            out += expected_rows(corpus.rows(job), job, job_ids[key])
    return out


def typed_aggregate(rows: list[dict]) -> dict:
    """The fixed aggregate the benchmark runs over a typed view: row count,
    non-blank count per typed column, sums of numbers, max of dates."""
    out: dict = {"n": len(rows)}
    kinds = {c: k for cols in TABLES.values() for c, k in cols}
    names = sorted({k for r in rows for k in r if not k.startswith("_")})
    for c in names:
        if kinds[c] == "string":
            continue
        vals = [r.get(c) for r in rows]
        vals = [v.strip(" ") for v in vals if v is not None and v.strip(" ")]
        out[f"nn_{c}"] = len(vals)
        if kinds[c] == "bigint":
            out[f"sum_{c}"] = sum(int(v) for v in vals)
        elif kinds[c] == "decimal":
            out[f"sum_{c}"] = sum((decimal.Decimal(v) for v in vals), decimal.Decimal(0))
        elif kinds[c] == "date":
            out[f"max_{c}"] = max(vals) if vals else None
        elif kinds[c] == "boolean":
            out[f"sum_{c}"] = sum(v == "true" for v in vals)
    return out


def canon_rows(rows: list[dict], columns: list[str]) -> list[tuple]:
    """Order-insensitive form: each row as a tuple over ``columns``."""
    return sorted(tuple("\0null" if r.get(c) is None else str(r[c]) for c in columns)
                  for r in rows)
