"""Golden end-to-end pipeline test: CSV -> raw -> staging -> warehouse.

Fixture shape mirrors the reference corpus (FIXTURES.md): 31 student rows
with one duplicate id, 51 progress events with one duplicate, 10 courses,
15 tickets — expected counts match BASELINE.md's single-clean-run numbers
(stg 30/50/15, dims 2557/30/10, fact_progress 50, fact_tickets 15).
fact_enrollments is 30 here, NOT the reference's 1: its NULL course_sk
conflict key degrades the Postgres upsert (BASELINE.md); our merge uses
null-safe key equality, the documented fix (SURVEY §7 hard-part 6).
"""

from __future__ import annotations

import os

import pytest

from edu_data_pipeline_spark import pipeline
from edu_data_pipeline_spark.operators import warehouse

DATE_VARIANTS = ["1999-05-15", "15/05/1999", "20-12-1998", "May 15, 1999", "18-Jan-24"]
CITY_VARIANTS = ["Mumbai", "mumbai", "Mumabi", "Banglore", "Bhopal", "Delhi", "Pune"]
PAY_VARIANTS = ["Paid", "PAID", "paid", "pending", "partial", ""]


def write_fixture_csvs(dirpath: str) -> None:
    os.makedirs(dirpath, exist_ok=True)
    students = [
        "student_id,full_name,email,phone,dob,gender,city,state,enrollment_date,program_id,fee_paid,payment_status"
    ]
    for i in range(1, 31):  # 30 distinct students
        sid = [f"STU{i:03d}", f"stu-{i:03d}", f"STU_{i:03d}"][i % 3]
        email = [f"user{i}@example.com", "bad@email", ""][i % 3]
        phone = [f"98765432{i:02d}", f"+91-98765432{i:02d}", "123"][i % 3]
        dob = DATE_VARIANTS[i % 5]
        gender = ["Male", "F", "m", "FEMALE", "x"][i % 5]
        city = CITY_VARIANTS[i % 7]
        fee = ["50000", "50,000", "₹50000", "-100", ""][i % 5]
        students.append(
            f'{sid},Name {i} Surname,{email},{phone},{dob},{gender},{city},'
            f'Maharashtra,{DATE_VARIANTS[(i + 1) % 5]},PROG00{i % 3},"{fee}",{PAY_VARIANTS[i % 6]}'
        )
    # row 31: duplicate of student 1 (dirty variant of the same key)
    students.append(
        'stu001,NAME 1 SURNAME,user1b@example.com,9876543299,1999-05-15,M,mumbai,'
        "Maharashtra,2024-01-16,PROG001,50000,PAID"
    )
    with open(os.path.join(dirpath, "students_enrollment.csv"), "w") as f:
        f.write("\n".join(students) + "\n")

    progress = [
        "event_id,student_id,course_id,event_type,event_timestamp,duration_seconds,score,module_id,completion_percentage"
    ]
    for i in range(1, 51):  # 50 distinct events
        score = ["85.5", "150.0", "NULL", "0", "93.0"][i % 5]
        ts = [
            "2024-02-01T10:30:00Z", "2024-02-02T11:00:00", "2024-12-01T10:00:00Z",
            "2030-01-01T00:00:00Z", "2024-02-03 09:15:00",
        ][i % 5]
        progress.append(
            f"evt-{i:03d},STU{(i % 30) + 1:03d},CRS{(i % 3) + 1:03d},video_watched,"
            f"{ts},{[600, 1200, 0][i % 3]},{score},MOD00{i % 3},{[50.0, 100.0, 10.0][i % 3]}"
        )
    progress.append(progress[1])  # duplicate evt-001
    with open(os.path.join(dirpath, "student_progress.csv"), "w") as f:
        f.write("\n".join(progress) + "\n")

    courses = ["course_id,course_name,category,difficulty,duration_hours,price,instructor_name,is_active"]
    for i in range(1, 11):
        courses.append(
            f"CRS{i:03d},Course {i},Technology,Beginner,{40 + i},{25000 + i},Instructor {i},TRUE"
        )
    with open(os.path.join(dirpath, "course_catalog.csv"), "w") as f:
        f.write("\n".join(courses) + "\n")

    tickets = ["ticket_id,student_id,subject,description,priority,status,category,created_date,resolved_date"]
    for i in range(1, 16):
        subject = ["Cannot access course", "Great course", "Refund request"][i % 3]
        resolved = "" if i % 2 else "2024-02-10"
        tickets.append(
            f"TKT{i:03d},STU{i:03d},{subject},description {i},High,"
            f"{'Open' if i % 2 else 'Resolved'},Technical,2024-02-0{(i % 9) + 1},{resolved}"
        )
    with open(os.path.join(dirpath, "support_tickets.csv"), "w") as f:
        f.write("\n".join(tickets) + "\n")


@pytest.fixture(scope="module")
def e2e(spark, tmp_path_factory):
    """(counts, warehouse_dir) of one composed-pipeline run."""
    base = tmp_path_factory.mktemp("e2e")
    input_dir = str(base / "input")
    wh_dir = str(base / "warehouse")
    write_fixture_csvs(input_dir)
    return pipeline.run_batch_pipeline(spark, input_dir, wh_dir), wh_dir


@pytest.fixture(scope="module")
def counts(e2e):
    return e2e[0]


def test_golden_row_counts(counts):
    assert counts["raw.students_enrollment"] == 31
    assert counts["raw.student_progress"] == 51
    assert counts["raw.course_catalog"] == 10
    assert counts["raw.support_tickets"] == 15
    assert counts["staging.stg_students"] == 30  # 31 - 1 duplicate key
    assert counts["staging.stg_progress"] == 50  # 51 - 1 duplicate event
    assert counts["staging.stg_tickets"] == 15
    assert counts["warehouse.dim_date"] == 2557
    assert counts["warehouse.dim_students"] == 30
    assert counts["warehouse.dim_courses"] == 10
    assert counts["warehouse.fact_student_progress"] == 50
    assert counts["warehouse.fact_support_tickets"] == 15
    # 30, not the reference's degenerate 1 (null-safe merge keys; docstring)
    assert counts["warehouse.fact_enrollments"] == 30
    assert counts["analytics.v_student_360"] == 30
    assert counts["analytics.v_ai_insights"] == 3
    assert counts["analytics.v_course_performance"] == 10
    assert counts["staging.stg_quality_log"] == 300  # 30 records x 10 rules
    assert counts["metadata.pipeline_runs"] == 1


def test_quality_log_matches_flagged_records(spark, e2e):
    """The audit sink reconciles with the staging quality scores: each
    failed rule costs 10 points (floor 0 never hit on this fixture), so
    invalid stg_quality_log rows must equal the total deducted-rule count
    and cover exactly the flagged records (VERDICT r3 #7)."""
    import os

    from pyspark.sql import functions as F

    _, wh = e2e
    log = spark.read.parquet(os.path.join(wh, "staging", "stg_quality_log"))
    stg = spark.read.parquet(os.path.join(wh, "staging", "stg_students"))

    n_invalid_log = log.where(~F.col("is_valid")).count()
    assert n_invalid_log > 0  # the sink is genuinely populated
    deducted_rules = stg.select(
        F.sum(((F.lit(100) - F.col("quality_score")) / 10).cast("long"))
    ).first()[0]
    assert n_invalid_log == deducted_rules

    flagged = {
        r["student_id"]
        for r in stg.where(F.col("quality_score") < 100).collect()
    }
    logged = {
        r["record_id"] for r in log.where(~F.col("is_valid")).collect()
    }
    assert logged == flagged
    # every invalid row carries its rule's note as the error message
    assert log.where(~F.col("is_valid") & F.col("error_message").isNull()).count() == 0


def test_idempotent_rerun(spark, tmp_path):
    input_dir = str(tmp_path / "input")
    wh_dir = str(tmp_path / "warehouse")
    write_fixture_csvs(input_dir)
    first = pipeline.run_batch_pipeline(spark, input_dir, wh_dir, batch_id="b1")
    second = pipeline.run_batch_pipeline(spark, input_dir, wh_dir, batch_id="b2")
    # raw layer is append-only (doubles); staging/warehouse upserts are stable
    assert second["raw.students_enrollment"] == 62
    assert second["staging.stg_students"] == first["staging.stg_students"] == 30
    assert second["warehouse.fact_student_progress"] == 50
    assert second["warehouse.dim_students"] == 30


def write_second_drop(dirpath: str) -> None:
    """An incremental drop after ``write_fixture_csvs``: STU005 re-sent
    with a new email as row 1, one new student, event and ticket, and the
    whole course catalog re-sent with CRS001 twice (the later copy wins)."""
    os.makedirs(dirpath, exist_ok=True)
    files = {
        "students_enrollment.csv": [
            "student_id,full_name,email,phone,dob,gender,city,state,enrollment_date,program_id,fee_paid,payment_status",
            "STU005,Name 5 Surname,stu5.new@example.com,9876543205,1999-05-15,Male,"
            "Mumbai,Maharashtra,2024-01-16,PROG002,50000,Paid",
            "STU031,Name 31 Surname,user31@example.com,9876543231,1999-05-15,F,"
            "Pune,Maharashtra,2024-01-16,PROG001,50000,Paid",
        ],
        "student_progress.csv": [
            "event_id,student_id,course_id,event_type,event_timestamp,duration_seconds,score,module_id,completion_percentage",
            "evt-051,STU031,CRS001,video_watched,2024-02-01T10:30:00Z,600,85.5,MOD001,50.0",
            "evt-052,STU005,CRS002,quiz_completed,2024-02-02T11:00:00,1200,93.0,MOD002,100.0",
        ],
        "course_catalog.csv": [
            "course_id,course_name,category,difficulty,duration_hours,price,instructor_name,is_active"
        ] + [
            f"CRS{i:03d},Course {i},Technology,Beginner,{40 + i},{25000 + i},Instructor {i},TRUE"
            for i in range(1, 11)
        ] + ["CRS001,Course 1 Renamed,Technology,Beginner,41,25001,Instructor 1,TRUE"],
        "support_tickets.csv": [
            "ticket_id,student_id,subject,description,priority,status,category,created_date,resolved_date",
            "TKT016,STU031,Cannot access course,description 16,High,Open,Technical,2024-02-05,",
        ],
    }
    for name, lines in files.items():
        with open(os.path.join(dirpath, name), "w") as f:
            f.write("\n".join(lines) + "\n")


@pytest.fixture(scope="module")
def two_drops(spark, tmp_path_factory):
    """(counts, warehouse_dir, fact frame) after the fixture drop (batch
    b0) and ``write_second_drop`` (batch b1). The fact frame is the second
    run's fact_student_progress as built, before its merge."""
    base = tmp_path_factory.mktemp("two_drops")
    wh_dir = str(base / "warehouse")
    write_fixture_csvs(str(base / "drop0"))
    write_second_drop(str(base / "drop1"))
    facts = []
    build = warehouse.build_fact_progress

    def capture(*args, **kwargs):
        facts.append(build(*args, **kwargs))
        return facts[-1]

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(warehouse, "build_fact_progress", capture)
        pipeline.run_batch_pipeline(spark, str(base / "drop0"), wh_dir, batch_id="b0")
        counts = pipeline.run_batch_pipeline(
            spark, str(base / "drop1"), wh_dir, batch_id="b1"
        )
    return counts, wh_dir, facts[-1]


def test_second_drop_stages_its_own_rows(spark, two_drops):
    """A re-sent key takes the new drop's row even though its
    file_row_number (1) is lower than the old one's (5); rows the drop
    did not touch keep their batch; is_duplicate counts copies within a
    drop only (STU001 is duplicated inside drop 0, STU005 is not
    duplicated inside drop 1)."""
    counts, wh, _ = two_drops
    assert counts["staging.stg_students"] == 31
    assert counts["staging.stg_progress"] == 52
    assert counts["staging.stg_tickets"] == 16
    read = lambda layer, name: spark.read.parquet(os.path.join(wh, layer, name))  # noqa: E731
    stg = {r.student_id: r for r in read("staging", "stg_students").collect()}
    dim = {r.student_id: r for r in read("warehouse", "dim_students").collect()}
    assert stg["STU005"].email == dim["STU005"].email == "stu5.new@example.com"
    assert stg["STU005"].file_row_number == 1
    assert {sid for sid, r in stg.items() if r.batch_id == "b1"} == {"STU005", "STU031"}
    assert {r.batch_id for sid, r in stg.items() if sid not in ("STU005", "STU031")} == {"b0"}
    assert stg["STU005"].is_duplicate is False
    assert stg["STU001"].is_duplicate is True
    assert {r.batch_id for r in read("staging", "stg_progress").collect()} == {"b0", "b1"}


def test_second_drop_facts_do_not_fan_out(spark, two_drops):
    """The course catalog is re-sent (and duplicated) in drop 1: the fact
    frame joins the merged dim_courses, so it has one row per event before
    the event_id merge, and dim_courses one row per course_id."""
    from pyspark.sql import functions as F

    counts, wh, fact = two_drops
    n_events = fact.select("event_id").distinct().count()
    assert n_events == 52
    assert fact.count() == n_events
    assert counts["warehouse.dim_courses"] == 10
    courses = spark.read.parquet(os.path.join(wh, "warehouse", "dim_courses"))
    assert courses.select("course_id").distinct().count() == courses.count() == 10
    assert courses.where(F.col("course_id") == "CRS001").first().course_name == (
        "Course 1 Renamed"
    )
