package graft.util

import org.apache.logging.log4j.LogManager

/** The library's one logger, `graft`: a resolved `auto` knob at INFO,
  * each cache memo lookup at DEBUG. Configured like any log4j logger
  * (`logger.graft.name = graft`, `logger.graft.level = debug`).
  */
object Log {
  private val logger = LogManager.getLogger("graft")

  def info(msg: => String): Unit = if (logger.isInfoEnabled) logger.info(msg)

  def debug(msg: => String): Unit = if (logger.isDebugEnabled) logger.debug(msg)
}
