# Container recipe (parity with the reference's Dockerfile, which ships
# its ETL script on python:3.9-slim — /root/reference/Dockerfile:1-22).
#
# Spark needs a JVM, so the base is a JRE image with Python installed
# rather than python-slim with a JRE bolted on. Tests are NOT run at
# build time (they need the generated parquet testdata mounted at
# /root/testdata, the directory the smoke entry and tests read — see
# TESTDATA.md); run them by overriding the CMD as shown
# under Verify below. The image launches the smoke entry by default.
#
# Build:   docker build -t spotify-app-etl-spark .
# Run:     docker run -v /path/to/testdata:/root/testdata spotify-app-etl-spark
# Verify:  docker run ... spotify-app-etl-spark python -m pytest tests/ -q
#
# NOTE: this sandbox has no Docker daemon; the recipe is validated by
# scripts/container_smoke.sh, which performs the same steps (install the
# wheel into a clean venv, run the smoke entry) without a container.

FROM eclipse-temurin:17-jre-jammy

RUN apt-get update \
    && apt-get install -y --no-install-recommends python3.11 python3.11-venv python3-pip \
    && rm -rf /var/lib/apt/lists/* \
    && python3.11 -m venv /opt/venv
ENV PATH="/opt/venv/bin:$PATH" \
    JAVA_HOME=/opt/java/openjdk

WORKDIR /app

# Dependency layer first so code edits don't re-resolve pip.
COPY requirements.txt .
RUN pip install --no-cache-dir -r requirements.txt

# The package, its entry point and tests.
COPY pyproject.toml README.md ./
COPY spotify_app_etl_spark/ spotify_app_etl_spark/
COPY tests/ tests/
COPY __spark_entry__.py ./
RUN pip install --no-cache-dir --no-deps .

# Smoke query against the mounted testdata by default; override the
# command for pytest runs.
CMD ["python", "-c", "import __spark_entry__ as e; from spotify_app_etl_spark.session import get_spark; df = e.entry(get_spark(app_name='smoke')); print(df.count(), 'rows'); df.show(5)"]
