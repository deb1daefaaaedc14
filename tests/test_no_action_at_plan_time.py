"""Guard against driver-side actions in plan builders.

A plan build must never run a corpus pass like the old q_tfidf
docs.count(). Two checks:
- fetching an already-prepared plan from the registry cache runs ZERO
  jobs (pure lookup);
- a fresh build of each SPOT query stays within a metadata-job budget.
  Table loads hand the reader the schema from the parquet footer
  (sources.tables.fixture_schema), so they run no schema-inference
  job, and every SPOT build measures 0 jobs (q9 with its 5 scans
  included); one count() action costs 3 and trips the budget."""

from sparrow_spark import registry

# Fresh-build job budget: the largest count the SPOT builds measure.
MAX_METADATA_JOBS = 0

SPOT = [
    "q_tfidf",            # the original offender
    "q_langid_ngram",
    "q_dedup_pipeline",
    "q_countmin_sketch",
    "q_vocab_heavy_hitters",
    "q9_product_profit",
]


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_fresh_plan_build_stays_metadata_only(spark, sf_dir):
    registry.load_all()
    failures = []
    for name in SPOT:
        before = _next_job_id(spark)
        registry.RAW_QUERIES[name](spark, sf_dir)
        jobs = _next_job_id(spark) - before
        if jobs > MAX_METADATA_JOBS:
            failures.append((name, jobs))
    assert not failures, f"plan build ran non-metadata jobs: {failures}"


def test_cached_plan_fetch_runs_zero_jobs(spark, sf_dir):
    registry.load_all()
    for name in SPOT:
        registry.QUERIES[name](spark, sf_dir)  # populate cache
    failures = []
    for name in SPOT:
        before = _next_job_id(spark)
        registry.QUERIES[name](spark, sf_dir)
        jobs = _next_job_id(spark) - before
        if jobs:
            failures.append((name, jobs))
    assert not failures, f"cached plan fetch ran jobs: {failures}"
