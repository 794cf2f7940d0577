.PHONY: dist test bench clean

dist:
	@mkdir -p dist
	@cd . && python -c "\
import zipfile, os; \
zf = zipfile.ZipFile('dist/transner_spark.zip', 'w', zipfile.ZIP_DEFLATED); \
[zf.write(os.path.join(r, f)) for r, _d, fs in os.walk('transner_spark') \
 for f in fs if f.endswith('.py')]; \
zf.close(); print('dist/transner_spark.zip')"

test:
	python -m pytest tests/ -x -q

bench:
	python3 perfbench/run.py --workload batch_kg --seed 1 --seconds 8 --trace 0

clean:
	rm -rf dist
