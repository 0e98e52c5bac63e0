"""spark-submit application for the north-rule launch-mode check.

The north rule requires the pipeline to run "via spark-submit
--py-files" — i.e. with the gdal_spark package importable ONLY from the
shipped zip, never from a repo checkout on sys.path. This script is the
application: it deliberately does NOT sys.path.insert the repo, so a
successful run proves driver + executor imports resolve from --py-files
alone (pandas_udf closures unpickling gdal_spark.kernels on workers
included). It delegates to the canonical checkpointed pipeline
entry point (gdal_spark/pipeline.py), which prints one JSON lineage
report per stage; tests/test_pipeline.py runs it twice from a temporary
directory and asserts the second pass resumes with zero new batches and
a byte-stable store.

    spark-submit --master local[4] --py-files gdal_spark.zip \
        --driver-memory 12g \
        --driver-java-options "-XX:+UseG1GC -XX:-DontCompileHugeMethods" \
        tools/submit_app.py --sf-dir <sf_dir> --store <store_dir>

Pass the driver heap and JVM flags on the command line: under
spark-submit the driver JVM is already running when `get_spark` builds
its session, so the `spark.driver.memory` and
`spark.driver.extraJavaOptions` it sets have no effect (the driver
would run with spark-submit's 1g default heap and without
-XX:-DontCompileHugeMethods).
"""

# no repo on sys.path: gdal_spark must resolve from --py-files
from gdal_spark import pipeline

if __name__ == "__main__":
    pipeline.main()
