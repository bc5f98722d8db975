package perfbench;

import java.util.ArrayList;
import java.util.List;
import java.util.concurrent.ConcurrentLinkedQueue;

import org.apache.spark.SparkContext;
import org.apache.spark.sql.execution.CommandResultExec;
import org.apache.spark.sql.execution.QueryExecution;
import org.apache.spark.sql.execution.SparkPlan;
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec;
import org.apache.spark.sql.execution.adaptive.QueryStageExec;
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec;
import org.apache.spark.sql.execution.metric.SQLMetric;
import org.apache.spark.sql.util.QueryExecutionListener;
import org.apache.spark.status.AppStatusStore;
import org.apache.spark.status.api.v1.StageData;
import org.apache.spark.status.api.v1.TaskMetricDistributions;

import scala.Option;
import scala.Tuple2;
import scala.collection.Iterator;

/**
 * Query-execution listener for the traced benchmark run.
 *
 * <p>Spark calls it once per finished SQL execution, including the ones a
 * library function starts internally (a manifest bucket write, a fenced
 * count). While enabled it queues the QueryExecution; {@link #drain()}
 * renders every queued execution as text so the Python side reads a whole
 * operation's plan metrics in one gateway call.
 *
 * <p>Report format, one record per line, fields separated by tabs:
 * <pre>
 * Q  funcName  durationNs  analysisMs  optimizationMs  planningMs
 * N  depth  SimpleClassName  nodeName  metric=value:type,...
 * </pre>
 * Each Q line is followed by the N lines of that execution's final plan.
 */
public class QeSink implements QueryExecutionListener {
  private static final ConcurrentLinkedQueue<Object[]> QUEUE = new ConcurrentLinkedQueue<>();
  private static volatile boolean enabled = false;

  public static void setEnabled(boolean on) {
    enabled = on;
    if (!on) {
      QUEUE.clear();
    }
  }

  @Override
  public void onSuccess(String funcName, QueryExecution qe, long durationNs) {
    if (enabled) {
      QUEUE.add(new Object[] {funcName, qe, durationNs});
    }
  }

  @Override
  public void onFailure(String funcName, QueryExecution qe, Exception exception) {
    if (enabled) {
      QUEUE.add(new Object[] {funcName, qe, -1L});
    }
  }

  /** Render and remove every queued execution. */
  public static String drain() {
    StringBuilder sb = new StringBuilder();
    Object[] e;
    while ((e = QUEUE.poll()) != null) {
      QueryExecution qe = (QueryExecution) e[1];
      sb.append("Q\t").append(e[0]).append('\t').append(e[2]);
      for (String phase : new String[] {"analysis", "optimization", "planning"}) {
        Option<?> s = qe.tracker().phases().get(phase);
        long ms = s.isDefined()
            ? ((org.apache.spark.sql.catalyst.QueryPlanningTracker.PhaseSummary) s.get()).durationMs()
            : 0L;
        sb.append('\t').append(ms);
      }
      sb.append('\n');
      walk(qe.executedPlan(), 0, sb);
    }
    return sb.toString();
  }

  /** Render one execution's final plan (used directly by the tests). */
  public static String describe(QueryExecution qe) {
    StringBuilder sb = new StringBuilder();
    walk(qe.executedPlan(), 0, sb);
    return sb.toString();
  }

  /**
   * Depth-first walk of the plan that actually ran: through an adaptive
   * plan's final physical plan, into each query stage's plan and a
   * command's physical plan. A reused exchange is listed but not
   * descended, so its metrics are not counted twice.
   */
  static void walk(SparkPlan p, int depth, StringBuilder sb) {
    sb.append("N\t").append(depth).append('\t').append(p.getClass().getSimpleName())
        .append('\t').append(p.nodeName().replace('\t', ' ')).append('\t');
    Iterator<Tuple2<String, SQLMetric>> it = p.metrics().iterator();
    boolean first = true;
    while (it.hasNext()) {
      Tuple2<String, SQLMetric> kv = it.next();
      if (!first) {
        sb.append(',');
      }
      first = false;
      sb.append(kv._1()).append('=').append(kv._2().value()).append(':').append(kv._2().metricType());
    }
    sb.append('\n');
    List<SparkPlan> kids = new ArrayList<>();
    if (p instanceof AdaptiveSparkPlanExec) {
      kids.add(((AdaptiveSparkPlanExec) p).executedPlan());
    } else if (p instanceof QueryStageExec) {
      kids.add(((QueryStageExec) p).plan());
    } else if (p instanceof CommandResultExec) {
      kids.add(((CommandResultExec) p).commandPhysicalPlan());
    } else if (!(p instanceof ReusedExchangeExec)) {
      Iterator<SparkPlan> c = p.children().iterator();
      while (c.hasNext()) {
        kids.add(c.next());
      }
    }
    for (SparkPlan k : kids) {
      walk(k, depth + 1, sb);
    }
  }

  /**
   * Totals and task-time quantiles of the given stages (first attempt), one
   * line each: stageId numTasks runMs cpuNs gcMs p50RunMs maxRunMs.
   */
  public static String stages(SparkContext sc, int[] stageIds) {
    AppStatusStore store = sc.statusStore();
    StringBuilder sb = new StringBuilder();
    for (int id : stageIds) {
      scala.collection.Seq<StageData> data;
      try {
        data = store.stageData(id, false, new ArrayList<>(), false, new double[0]);
      } catch (RuntimeException missing) {
        continue;
      }
      if (data.isEmpty()) {
        continue;
      }
      StageData d = data.head();
      double p50 = 0;
      double max = 0;
      Option<TaskMetricDistributions> q = store.taskSummary(id, d.attemptId(), new double[] {0.5, 1.0});
      if (q.isDefined()) {
        p50 = (Double) q.get().executorRunTime().apply(0);
        max = (Double) q.get().executorRunTime().apply(1);
      }
      sb.append(id).append(' ').append(d.numTasks()).append(' ').append(d.executorRunTime())
          .append(' ').append(d.executorCpuTime()).append(' ').append(d.jvmGcTime())
          .append(' ').append(p50).append(' ').append(max).append('\n');
    }
    return sb.toString();
  }
}
