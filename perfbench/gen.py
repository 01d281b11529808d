"""Seeded input generators for the benchmark workloads.

Every generator takes the workload seed and writes plain files (CSV,
JSON lines); the program under test only ever sees those files.
Each generator also returns the facts the correctness checks need
(distinct keys emitted, invalid rows), computed from
what it wrote, never from the program's output. The same seed gives
byte-identical files.
"""

from __future__ import annotations

import csv
import os
import random
from dataclasses import dataclass, field


# Header columns of the four reference CSV datasets (FIXTURES.md §1-4).
STUDENT_COLS = [
    "student_id", "full_name", "email", "phone", "dob", "gender", "city",
    "state", "enrollment_date", "program_id", "fee_paid", "payment_status",
]
PROGRESS_COLS = [
    "event_id", "student_id", "course_id", "event_type", "event_timestamp",
    "duration_seconds", "score", "module_id", "completion_percentage",
]
COURSE_COLS = [
    "course_id", "course_name", "category", "difficulty", "duration_hours",
    "price", "instructor_name", "is_active",
]
TICKET_COLS = [
    "ticket_id", "student_id", "subject", "description", "priority",
    "status", "category", "created_date", "resolved_date",
]

# Dirty variants from FIXTURES.md (all present in the reference corpus).
_SID_FORMS = ["STU{n:05d}", "stu-{n:05d}", "STU_{n:05d}", "stu{n:05d}"]
_NAMES = ["JOHN DOE", "jane smith", "  Bob  Wilson  ", "john123 kumar", "Asha Rao"]
_EMAILS = ["{u}@company.co.in", "{u}@email", "{u}@invalid_email", ""]
_PHONES = ["98765{d:05d}", "+91-98765{d:05d}", "98765-{d:05d}", "+9198765{d:05d}",
           "98765 {d:05d}"]
_DOBS = ["1999-05-15", "15/05/1999", "May 15, 1999", "20-12-1998", "Dec 20, 1998",
         "1940-01-01", "2031-01-01"]
_GENDERS = ["Male", "F", "m", "MALE", "female", "FEMALE", "x"]
_CITIES = ["Mumbai", "mumbai", "MUMBAI ", "Mumabi", "Banglore", "Bhopal", "Delhi",
           "Pune", "Chennai"]
_STATES = ["Maharashtra", "MH", "maharashtra", "Karnataka"]
_ENROLL = ["2024-01-15", "15-Jan-2024", "2024/01/16", "18-Jan-24", "17/01/2024"]
_PROGRAMS = ["PROG001", "prog002", "PROG003", ""]
_FEES = ["50000", "50,000", "₹50000", "50000.00", "-50000", ""]
_PAYMENTS = ["Paid", "PAID", "paid", "pending", "partial", ""]
_EVENT_TYPES = ["video_watched", "quiz_completed", "assignment_submitted"]
_EVENT_TS = ["2024-02-{d:02d}T10:30:00Z", "2024-02-{d:02d} 11:00:00",
             "2024-03-{d:02d}T09:15:00", "2030-01-01T00:00:00Z"]
_SCORES = ["85.5", "150.0", "NULL", "0", "93.0", "abc"]
_SUBJECTS = ["Cannot access course", "Great course", "Refund request",
             "Video not loading", "Certificate query"]
_PRIORITIES = ["Low", "Medium", "High", "Critical"]
_TSTATUS = ["Open", "In Progress", "Resolved", "Closed"]
_TCATS = ["Technical", "Payment", "Certificate", "Feedback", "Content"]

NULL_KEY_STUDENT = "unknown-student"  # no digits -> NULL student_id after cleaning


def canonical_student_id(raw: str) -> str | None:
    """Python twin of the student-id rule: digits, zero-padded to 3."""
    digits = "".join(ch for ch in raw if ch.isdigit())
    if not digits:
        return None
    return "STU" + (digits if len(digits) >= 3 else digits.rjust(3, "0"))


def _write_csv(path: str, header: list[str], rows: list[list[str]]) -> None:
    with open(path, "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


@dataclass
class EtlTruth:
    """Cumulative facts about every drop written so far."""

    students: set = field(default_factory=set)  # canonical ids; None = NULL key
    events: set = field(default_factory=set)
    tickets: set = field(default_factory=set)
    courses: set = field(default_factory=set)
    raw_rows: dict = field(default_factory=dict)

    def expected_counts(self) -> dict[str, int]:
        n_students = len(self.students)
        out = {
            "staging.stg_students": n_students,
            "staging.stg_progress": len(self.events),
            "staging.stg_tickets": len(self.tickets),
            "warehouse.dim_date": 2557,
            "warehouse.dim_students": n_students,
            "warehouse.dim_courses": len(self.courses),
            "warehouse.fact_student_progress": len(self.events),
            "warehouse.fact_support_tickets": len(self.tickets),
            "warehouse.fact_enrollments": n_students,
        }
        out.update({f"raw.{k}": v for k, v in self.raw_rows.items()})
        return out


class EtlDrops:
    """Dirty CSV drops for ``pipeline.run_batch_pipeline``.

    Drop 0 is the initial load; later drops are a fifth of its size.
    Every table carries duplicate keys: in-drop duplicates (a dirty
    variant of the same key), keys re-sent from earlier drops, and one
    student row whose id has no digits (a NULL merge key).
    """

    def __init__(self, seed: int, students: int, events: int, tickets: int,
                 courses: int = 20):
        self.rng = random.Random(seed)
        self.sizes = (students, events, tickets)
        self.n_courses = courses
        self.truth = EtlTruth()
        self._next = {"student": 1, "event": 1, "ticket": 1}
        self._drops = 0

    def _new_ids(self, kind: str, n: int) -> list[int]:
        start = self._next[kind]
        self._next[kind] = start + n
        return list(range(start, start + n))

    def _with_dups(self, keys: list, old: list) -> list:
        """Append in-drop duplicates and re-sent keys, then shuffle."""
        rng = self.rng
        n_dup = max(1, len(keys) // 20)
        out = keys + [rng.choice(keys) for _ in range(n_dup)]
        if old:
            out += [rng.choice(old) for _ in range(n_dup)]
        rng.shuffle(out)
        return out

    def write_drop(self, out_dir: str) -> int:
        """Write one drop's four CSVs; return the number of input rows."""
        rng = self.rng
        os.makedirs(out_dir, exist_ok=True)
        scale = 1.0 if self._drops == 0 else 0.2
        n_s, n_e, n_t = (max(1, int(n * scale)) for n in self.sizes)
        old_students = sorted(k for k in self.truth.students if k is not None)
        old_students_n = [int(s[3:]) for s in old_students]

        # ---- students ---------------------------------------------------
        keys = self._with_dups(self._new_ids("student", n_s), old_students_n)
        rows = []
        for n in keys:
            rows.append([
                rng.choice(_SID_FORMS).format(n=n),
                rng.choice(_NAMES),
                rng.choice(_EMAILS).format(u=f"user{n}"),
                rng.choice(_PHONES).format(d=n % 100000),
                rng.choice(_DOBS),
                rng.choice(_GENDERS),
                rng.choice(_CITIES),
                rng.choice(_STATES),
                rng.choice(_ENROLL),
                rng.choice(_PROGRAMS),
                rng.choice(_FEES),
                rng.choice(_PAYMENTS),
            ])
        rows.append([NULL_KEY_STUDENT, "No Id", "", "", "", "", "", "", "", "", "", ""])
        _write_csv(os.path.join(out_dir, "students_enrollment.csv"), STUDENT_COLS, rows)
        for r in rows:
            self.truth.students.add(canonical_student_id(r[0]))
        n_students = len(rows)
        students_now = sorted(k for k in self.truth.students if k is not None)

        # ---- progress events -------------------------------------------
        old_events = sorted(self.truth.events)
        keys = self._with_dups(
            [f"evt-{i:07d}" for i in self._new_ids("event", n_e)], old_events
        )
        rows = []
        for eid in keys:
            rows.append([
                eid,
                rng.choice(students_now) if rng.random() < 0.95 else "STU99999999",
                f"CRS{rng.randint(1, self.n_courses):03d}",
                rng.choice(_EVENT_TYPES),
                rng.choice(_EVENT_TS).format(d=rng.randint(1, 28)),
                rng.choice(["480", "1200", "6300", "NULL", ""]),
                rng.choice(_SCORES),
                f"MOD{rng.randint(1, 3):03d}",
                rng.choice(["10.0", "62.0", "100", "120.5"]),
            ])
        _write_csv(os.path.join(out_dir, "student_progress.csv"), PROGRESS_COLS, rows)
        self.truth.events.update(keys)
        n_progress = len(rows)

        # ---- courses: the whole catalog every drop, one duplicate row ---
        courses = [f"CRS{i:03d}" for i in range(1, self.n_courses + 1)]
        courses.append(rng.choice(courses))
        crow = [[c, f"Course {c[3:]}", rng.choice(["Technology", "Business", "Design"]),
                 rng.choice(["Beginner", "Intermediate", "Advanced"]),
                 str(rng.randint(40, 120)), str(rng.randint(25, 55) * 1000),
                 f"Instructor {c[3:]}", "TRUE"] for c in courses]
        _write_csv(os.path.join(out_dir, "course_catalog.csv"), COURSE_COLS, crow)
        self.truth.courses.update(courses)

        # ---- tickets ----------------------------------------------------
        old_tickets = sorted(self.truth.tickets)
        keys = self._with_dups(
            [f"TKT{i:07d}" for i in self._new_ids("ticket", n_t)], old_tickets
        )
        trows = []
        for tid in keys:
            subject = rng.choice(_SUBJECTS)
            trows.append([
                tid,
                rng.choice(students_now),
                subject,
                f"{subject}: it is {'not ' if rng.random() < 0.3 else ''}working",
                rng.choice(_PRIORITIES),
                rng.choice(_TSTATUS),
                rng.choice(_TCATS),
                f"2024-02-{rng.randint(1, 28):02d}",
                "" if rng.random() < 0.6 else f"2024-03-{rng.randint(1, 28):02d}",
            ])
        _write_csv(os.path.join(out_dir, "support_tickets.csv"), TICKET_COLS, trows)
        self.truth.tickets.update(keys)

        counts = {
            "students_enrollment": n_students,
            "student_progress": n_progress,
            "course_catalog": len(crow),
            "support_tickets": len(trows),
        }
        for name, n in counts.items():
            self.truth.raw_rows[name] = self.truth.raw_rows.get(name, 0) + n
        self._drops += 1
        return sum(counts.values())


# ---------------------------------------------------------------------------
# Progress-event JSON files (event stream)
# ---------------------------------------------------------------------------


EVENT_DAY = "2024-05-01"  # every stream event is in the past, inside one hour


@dataclass
class StreamTruth:
    ids: set = field(default_factory=set)
    invalid_ids: set = field(default_factory=set)
    rows: int = 0
    last_file: list = field(default_factory=list)


def event_file_lines(rng: random.Random, file_no: int, n: int, day: str,
                     truth: StreamTruth) -> list[str]:
    """JSON lines for one event file: ``n`` new events plus duplicates
    (repeats from this file and from the previous one), some with an
    out-of-range score (bound for the DLQ), timestamps shuffled inside
    one half hour of ``day`` (out of order, never later than the stream's
    one-hour watermark). Records distinct and invalid ids in ``truth``."""
    events = []
    types = _EVENT_TYPES + ["error_occurred"]
    for i in range(n):
        eid = f"sev-{file_no:06d}-{i:05d}"
        bad = rng.random() < 0.05
        # one JSON object, keys sorted; every value is a plain string
        events.append(
            f'{{"completion_percentage": "{rng.uniform(0, 100):.1f}", '
            f'"course_id": "CRS{rng.randint(1, 20):03d}", '
            f'"duration_seconds": "{rng.randint(60, 6000)}", '
            f'"event_id": "{eid}", '
            f'"event_timestamp": "{day}T12:{rng.randint(0, 29):02d}:{rng.randint(0, 59):02d}Z", '
            f'"event_type": "{rng.choice(types)}", '
            f'"module_id": "MOD{rng.randint(1, 3):03d}", '
            f'"score": "{"150.0" if bad else f"{rng.uniform(0, 100):.1f}"}", '
            f'"student_id": "stu-{rng.randint(1, 500):05d}"}}'
        )
        truth.ids.add(eid)
        if bad:
            truth.invalid_ids.add(eid)
    n_dup = max(1, n // 10)
    repeats = [rng.choice(events) for _ in range(n_dup)]
    if truth.last_file:
        repeats += [rng.choice(truth.last_file) for _ in range(n_dup)]
    truth.last_file = events
    events += repeats
    rng.shuffle(events)
    truth.rows += len(events)
    return events


# ---------------------------------------------------------------------------
# Star schema + events tables for the registry query pass (TESTDATA.md)
# ---------------------------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["small", "red", "blue", "green", "large", "steel"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "valve", "panel"]
_PART_TYPES = ["ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO"]
_ORDER_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_WEB_EVENTS = ["view", "click", "signup", "purchase", "error"]
_LANGS = ["en"] * 6 + ["de", "es", "zh"]


def write_parquet(path: str, cols: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(cols), path)


def write_star_schema(seed: int, out_dir: str, sf: float = 0.01) -> None:
    """The ten tables ``sources.testdata`` reads, with the column names and
    types of TESTDATA.md, sized like its scale factor ``sf`` (sf 0.01:
    60k lineitem rows, 10k events). Prices and rates carry two decimals,
    as in the reference tables."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_events, n_users = int(1_500_000 * sf), int(1_000_000 * sf), max(10, int(15_000 * sf))
    n_docs = int(50_000 * sf)
    i32, i64 = pa.int32(), pa.int64()

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(choices, n):
        return [choices[i] for i in rng.integers(0, len(choices), n)]

    def p(name, **cols):
        write_parquet(os.path.join(out_dir, f"{name}.parquet"), cols)

    p("region", r_regionkey=pa.array(range(5), i32), r_name=_REGIONS)
    p("nation", n_nationkey=pa.array(range(25), i32),
      n_name=[f"NATION_{k}" for k in range(25)],
      n_regionkey=pa.array([k % 5 for k in range(25)], i32))
    p("customer", c_custkey=pa.array(range(n_cust), i64),
      c_name=[f"Customer#{k:09d}" for k in range(n_cust)],
      c_nationkey=pa.array(rng.integers(0, 25, n_cust), i32),
      c_acctbal=money(-999.99, 9999.99, n_cust), c_mktsegment=pick(_SEGMENTS, n_cust))
    p("supplier", s_suppkey=pa.array(range(n_supp), i64),
      s_name=[f"Supplier#{k:09d}" for k in range(n_supp)],
      s_nationkey=pa.array(rng.integers(0, 25, n_supp), i32),
      s_acctbal=money(-999.99, 9999.99, n_supp))
    p("part", p_partkey=pa.array(range(n_part), i64),
      p_name=[f"{a} {b}" for a, b in zip(pick(_PART_ADJ, n_part), pick(_PART_NOUN, n_part))],
      p_brand=[f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
      p_type=pick(_PART_TYPES, n_part),
      p_size=pa.array(rng.integers(1, 51, n_part), i32),
      p_retailprice=np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2))

    day = np.datetime64("1995-01-01", "us")
    odate = day + rng.integers(0, 2404, n_ord).astype("timedelta64[D]")
    p("orders", o_orderkey=pa.array(range(n_ord), i64),
      o_custkey=pa.array(rng.integers(0, n_cust, n_ord), i64),
      o_orderstatus=pick(["F", "O", "P"], n_ord),
      o_totalprice=money(1000.0, 500000.0, n_ord),
      o_orderdate=odate, o_orderpriority=pick(_ORDER_PRIORITIES, n_ord))

    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    n_li = len(okey)
    p("lineitem", l_orderkey=pa.array(okey, i64),
      l_partkey=pa.array(rng.integers(0, n_part, n_li), i64),
      l_suppkey=pa.array(rng.integers(0, n_supp, n_li), i64),
      l_linenumber=pa.array(np.concatenate([np.arange(1, k + 1) for k in lines]), i32),
      l_quantity=rng.integers(1, 51, n_li).astype(float),
      l_extendedprice=money(900.0, 100000.0, n_li),
      l_discount=rng.integers(0, 11, n_li) / 100.0,
      l_tax=rng.integers(0, 9, n_li) / 100.0,
      l_returnflag=pick(["A", "N", "R"], n_li), l_linestatus=pick(["F", "O"], n_li),
      l_shipdate=odate[okey] + rng.integers(1, 122, n_li).astype("timedelta64[D]"))

    gaps = rng.integers(1, 2 * 30 * 86_400_000_000 // n_events, n_events)
    p("events", event_id=pa.array(range(n_events), i64),
      ts=np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]"),
      user_id=pa.array(rng.integers(0, n_users, n_events), i64),
      event_type=pick(_WEB_EVENTS, n_events),
      value=np.round(rng.exponential(25.0, n_events) + 0.01, 2),
      props=[f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)])

    docs = corpus_docs(seed, n_docs, exact_rate=0.0, near_rate=0.0)[0]
    p("documents", **docs)
    p("embeddings", vec_id=pa.array(range(n_docs), i64),
      embedding=pa.array(rng.standard_normal((n_docs, 8)).astype(np.float32).tolist(),
                         pa.list_(pa.float32())),
      label=pa.array(rng.integers(0, 5, n_docs), i32))


# ---------------------------------------------------------------------------
# Documents with injected duplicates (corpus curation)
# ---------------------------------------------------------------------------

_SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "ta", "po", "si", "de", "fa", "gu", "ho",
              "ji", "be", "vo", "ze", "ly", "qu", "wi", "xo"]


@dataclass
class CorpusTruth:
    n_docs: int = 0
    n_base: int = 0
    exact_copy_ids: set = field(default_factory=set)  # must never reach silver
    near_copies: int = 0


def corpus_docs(seed: int, n_docs: int, exact_rate: float = 0.05, near_rate: float = 0.10,
                edit_rate: float = 0.05) -> tuple[dict, CorpusTruth]:
    """Columns of a ``documents`` table: unique base documents of 20-120
    words from a 400-word vocabulary (every one passes the corpus quality
    gate), plus exact copies of base documents (``exact_rate`` of all
    docs) and near copies with ``edit_rate`` of their words replaced (at
    least one; ``near_rate``). Doc ids are shuffled so copies are not
    adjacent to their source."""
    rng = random.Random(seed)
    vocab = sorted({rng.choice(_SYLLABLES) + rng.choice(_SYLLABLES) + rng.choice(_SYLLABLES)
                    for _ in range(2000)})[:400]
    n_exact, n_near = int(n_docs * exact_rate), int(n_docs * near_rate)
    truth = CorpusTruth(n_docs=n_docs, n_base=n_docs - n_exact - n_near, near_copies=n_near)
    base, seen = [], set()
    while len(base) < truth.n_base:
        text = " ".join(rng.choice(vocab) for _ in range(rng.randint(20, 120)))
        if text not in seen:
            seen.add(text)
            base.append(text)
    texts = list(base)
    for _ in range(n_near):
        words = rng.choice(base).split(" ")
        for i in rng.sample(range(len(words)), max(1, int(len(words) * edit_rate))):
            words[i] = rng.choice([w for w in vocab if w != words[i]][:50])
        texts.append(" ".join(words))
    texts += [rng.choice(base) for _ in range(n_exact)]
    ids = list(range(len(texts)))
    rng.shuffle(ids)
    # exact_dedup keeps the lowest id per text: the copies are the rest
    first: dict[str, int] = {}
    for pos, text in enumerate(texts):
        first[text] = min(first.get(text, ids[pos]), ids[pos])
    truth.exact_copy_ids = {ids[pos] for pos, t in enumerate(texts) if ids[pos] != first[t]}
    order = sorted(range(len(texts)), key=lambda pos: ids[pos])
    cols = {
        "doc_id": [ids[pos] for pos in order],
        "text": [texts[pos] for pos in order],
        "lang": [rng.choice(_LANGS) for _ in order],
        "source": [f"src{rng.randint(0, 19)}" for _ in order],
        "n_chars": [len(texts[pos]) for pos in order],
    }
    return cols, truth
