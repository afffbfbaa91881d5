# Task runner — parity with the reference's src/Makefile (test /
# test-distinct / benchmark / dbt-run), recast for the Spark engine.

SF ?= /root/testdata/sf0.001

.PHONY: test test-distinct oracle oracle-vanilla bench perfbench plans pipeline dashboard unit recall-check concurrent assembly lakehouse datamart ann-audit

# reference `make test` (Makefile:22-24): canary count round trip
test:
	python -m quack_reduce_spark.cli --data $(SF)

# reference `make test-distinct` (Makefile:26-28): filter+group+sort
test-distinct:
	python -m quack_reduce_spark.cli --data $(SF) -q \
	  "SELECT l_suppkey, COUNT(*) AS counts FROM lineitem \
	   WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01' \
	   GROUP BY 1 ORDER BY 2 DESC" -limit 10

# full pytest suite
unit:
	python -m pytest tests/ -q

# DuckDB differential harness over the whole inventory
oracle:
	python tools/check_oracle.py $(SF)

# same, under the driver's default-config session
oracle-vanilla:
	python tools/check_oracle.py $(SF) --vanilla

# full registry differential at sf0.1 — the bigger SF has caught real
# divergences the small fixtures missed (r5); log kept in docs/ORACLE_SF01.md
oracle-sf01:
	python tools/check_oracle.py /root/testdata/sf0.1 2>&1 | python tools/oracle_log.py docs/ORACLE_SF01.md

# reference `make benchmark` (Makefile:30-32)
bench:
	python bench.py

# the repo benchmark (BENCHMARK.json): one seeded run of each workload,
# last stdout line per run is its JSON result (perfbench/METHOD.md)
perfbench:
	for w in dashboard_rw registry_batch; do \
	  python3 perfbench/run.py --workload $$w --seed 1 --seconds 20 || exit 1; \
	done

# recall floors for every approximate operator (CI gate)
recall-check:
	python tools/recall_report.py /root/testdata/sf0.01 --check

# concurrent 16-query burst: serial vs FAIR-pool fan-out, result parity
concurrent:
	python tools/concurrent_queries.py /root/testdata/sf0.01 8

# lakehouse lifecycle (versioned create -> merge -> delete -> time
# travel -> CDC feed -> incremental MV -> rollback -> vacuum)
lakehouse:
	python examples/lakehouse.py $(SF)

# round-5 train-ready datamart (DQ gate -> split -> features -> shards -> catalog)
datamart:
	python examples/ml_datamart.py $(SF)

# production-vs-portable ANN soundness audit (precision-1.0 invariant)
ann-audit:
	python examples/ann_audit.py $(SF)

# corpus assembly end-to-end (decontaminate -> gate -> mix -> shard)
assembly:
	python examples/corpus_assembly.py $(SF)

# regenerate the annotated plan audit
plans:
	python tools/dump_plans.py

# reference `make dbt-run` (Makefile:34-36): the two-model pipeline
pipeline:
	python examples/pipeline.py

dashboard:
	python examples/dashboard.py $(SF)
