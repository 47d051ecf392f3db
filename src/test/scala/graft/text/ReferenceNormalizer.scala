package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Declarative Catalyst Column forms of the two normalizers — the twin
  * TwinSpec pins `ArabicNormalizer.normalizeBasic`/`normalizeEnhanced`
  * against. Built from the same public char tables as the Scala and SQL
  * forms, so the three cannot drift apart on a table edit.
  */
object ReferenceNormalizer {
  import ArabicNormalizer.{ArabicPunct, DiacriticChars, TranslateFrom, TranslateTo}

  private val diacriticsClass = "[" + DiacriticChars + "]"
  private val punctClass = "[" + ArabicPunct + "]"

  def normalizeBasicCol(c: Column): Column = {
    val collapsed = trim(regexp_replace(coalesce(c, lit("")), "\\s+", " "))
    trim(regexp_replace(translate(collapsed, TranslateFrom, TranslateTo), diacriticsClass, ""))
  }

  def normalizeEnhancedCol(c: Column): Column = {
    val basic = regexp_replace(
      translate(trim(regexp_replace(coalesce(c, lit("")), "\\s+", " ")), TranslateFrom, TranslateTo),
      diacriticsClass, "")
    trim(regexp_replace(regexp_replace(basic, "\\s+", " "), punctClass, "."))
  }
}
